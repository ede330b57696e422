package graft.io

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IoOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_io_spec").toString

  test("compactParquet: many small files become few, rows intact") {
    val d = tmp() + "/frag"
    val df = (1 to 1000).map(i => (i, s"row$i")).toDF("id", "v")
    df.repartition(40).write.parquet(d) // 40 small files
    val before = new java.io.File(d).listFiles
      .count(f => f.getName.endsWith(".parquet"))
    assert(before >= 30)
    val after = IoOps.compactParquet(spark, d, targetBytes = 1L << 20)
    assert(after < before && after >= 1, s"$before -> $after")
    val back = spark.read.parquet(d)
    assert(back.count() == 1000)
    assert(back.agg(org.apache.spark.sql.functions.sum("id")).collect()(0).getLong(0)
      == (1 to 1000).map(_.toLong).sum)
  }

  test("compactParquet: hive-partitioned tree keeps layout, compacts per leaf") {
    val d = tmp() + "/part"
    val df = (1 to 1000).map(i => (i, i % 4, s"row$i")).toDF("id", "bucket", "v")
    df.repartition(10).write.partitionBy("bucket").parquet(d)
    val leaves = new java.io.File(d).listFiles.filter(_.getName.startsWith("bucket="))
    assert(leaves.length == 4)
    val beforePerLeaf = leaves.map(_.listFiles.count(_.getName.endsWith(".parquet")))
    assert(beforePerLeaf.forall(_ >= 5))
    val after = IoOps.compactParquet(spark, d, targetBytes = 1L << 20)
    assert(after == 4, s"expected one file per partition, got $after")
    // layout preserved: same partition dirs, partition column still prunes
    val dirsAfter = new java.io.File(d).listFiles
      .filter(f => f.isDirectory && !f.getName.startsWith("."))
      .map(_.getName).sorted
    assert(dirsAfter.sameElements(Array("bucket=0", "bucket=1", "bucket=2", "bucket=3")))
    val back = spark.read.parquet(d)
    assert(back.columns.toSet == Set("id", "bucket", "v"))
    assert(back.count() == 1000)
    assert(back.filter($"bucket" === 2).count() == 250)
  }

  test("compactParquet: a directory a crashed swap left parked is restored, not lost") {
    // The state a crash leaves between the swap's park and move steps: the
    // data sits only at the hidden backup `.<dir>.old`.
    def park(dir: String): Unit = {
      val p = Paths.get(dir)
      Files.move(p, p.resolveSibling(s".${p.getFileName}.old"))
    }
    val df = (1 to 1000).map(i => (i, i % 4, s"row$i")).toDF("id", "bucket", "v")
    val tree = tmp() + "/tree"
    df.repartition(10).write.partitionBy("bucket").parquet(tree)
    park(s"$tree/bucket=2")
    assert(IoOps.compactParquet(spark, tree, targetBytes = 1L << 20) == 4)
    assert(Files.isDirectory(Paths.get(tree, "bucket=2")), "the parked leaf is not live again")
    val back = spark.read.parquet(tree)
    assert(back.count() == 1000)
    assert(back.filter($"bucket" === 2).count() == 250)
    // an unpartitioned directory parked whole
    val flat = tmp() + "/flat"
    df.drop("bucket").repartition(10).write.parquet(flat)
    park(flat)
    assert(IoOps.compactParquet(spark, flat, targetBytes = 1L << 20) == 1)
    assert(spark.read.parquet(flat).count() == 1000)
  }

  test("CSV roundtrip (K1 -> S1) preserves rows and types") {
    val d = tmp()
    val src = Seq((1, "alpha", 2.5), (2, "beta", 3.5)).toDF("id", "name", "v")
    IoOps.writeCsv(src, d)
    val back = IoOps.readCsv(spark, d + "/*.csv", StructType(Seq(
      StructField("id", IntegerType), StructField("name", StringType),
      StructField("v", DoubleType))))
    assert(back.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
      .toSeq == Seq((1, "alpha", 2.5), (2, "beta", 3.5)))
  }

  test("forced-string CSV (S2) keeps empty string as '', not null") {
    val d = tmp()
    IoOps.writeCsv(Seq(("1", ""), ("2", "x")).toDF("k", "s"), d)
    val back = IoOps.readCsvAllString(spark, d + "/*.csv", StructType(Seq(
      StructField("k", StringType), StructField("s", StringType))))
      .orderBy("k").collect()
    assert(back(0).getString(1) == "")
    assert(back(1).getString(1) == "x")
  }

  test("headerless TSV roundtrip (K2 -> S3)") {
    val d = tmp()
    IoOps.writeTsv(Seq((0.5, 1.25, "f1"), (1.25, 3.0, "f2")).toDF("s", "e", "id"), d)
    val back = IoOps.readTsv(spark, d + "/*.csv", StructType(Seq(
      StructField("s", DoubleType), StructField("e", DoubleType),
      StructField("id", StringType))))
    assert(back.count() == 2)
    assert(back.orderBy("id").collect()(0).getDouble(0) == 0.5)
  }

  test("JSONL roundtrip (K4 -> S6) and schema union across files (A11)") {
    val da = tmp(); val db = tmp()
    IoOps.writeJsonl(Seq((1L, "n1")).toDF("id", "name"), da)
    IoOps.writeJsonl(Seq((2L, 9.5)).toDF("id", "bal"), db)
    val back = IoOps.readJsonl(spark, da + "/*.json", db + "/*.json")
    assert(back.columns.sorted.toSeq == Seq("bal", "id", "name"))
    val rows = back.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("name") == "n1" && rows(0).isNullAt(rows(0).fieldIndex("bal")))
  }

  test("text lines with stable per-file line ids (S8)") {
    val d = tmp()
    IoOps.writeTextLines(Seq("l0", "l1", "l2").toDF("line"), "line", d)
    val back = IoOps.readTextLines(spark, d + "/*.txt")
      .orderBy("line_no").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(back.toSeq == Seq((0, "l0"), (1, "l1"), (2, "l2")))
  }

  test("delimited lines parse (S7)") {
    val d = tmp()
    IoOps.writeTextLines(Seq("a, b, src1").toDF("line"), "line", d)
    val back = IoOps.readDelimLines(spark, d, ", ", Seq("audio", "text", "source"))
      .collect()(0)
    assert((back.getString(0), back.getString(1), back.getString(2)) == ("a", "b", "src1"))
  }

  test("binary tree scan derives speaker/book/idx from paths (S9)") {
    val d = tmp()
    val spk = java.nio.file.Paths.get(d, "spk1")
    Files.createDirectories(spk)
    Files.write(spk.resolve("book7_3.wav"), "abc".getBytes)
    val row = IoOps.readBinaryTree(spark, d + "/*/*.wav")
      .select("speaker_id", "book_id", "utt_idx").collect()(0)
    assert((row.getString(0), row.getString(1), row.getInt(2)) == ("spk1", "book7", 3))
  }
}
