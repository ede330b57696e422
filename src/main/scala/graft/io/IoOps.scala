package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** File sources and sinks (SURVEY §2.1 S1–S9 / K1–K8) as one thin module.
  * Readers take explicit schemas (the engine's schema policy, SURVEY §1.3);
  * permissiveness is opt-in via PERMISSIVE + corrupt-record quarantine.
  *
  * Scale notes: every reader here is a plain Spark FileFormat scan —
  * splittable (CSV/JSON line-based), column-prunable, and
  * filter-pushdown-capable out of the box. Single-file sinks
  * (`coalesce(1)`) exist ONLY for fixture/export parity with the
  * reference's one-file outputs; engine-internal stages persist
  * partitioned Parquet.
  */
object IoOps {

  // ------------------------------------------------------------- readers

  /** S1: header CSV with explicit schema (crawler/utils.py:54). */
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema)
      .option("mode", "PERMISSIVE").csv(path)

  /** S11-class robust ingest: headerless CSV under PERMISSIVE mode with
    * an explicit corrupt-record column — a type-level parse failure
    * nulls the offending field AND captures the raw row in `corruptCol`,
    * while a genuinely EMPTY field is a plain null with no capture (the
    * distinction a quarantine pipeline is built on: re-queue corrupt
    * rows, accept sparse ones). The schema passed here must NOT contain
    * `corruptCol`; it is appended. */
  def readCsvQuarantine(spark: SparkSession, path: String, schema: StructType,
      corruptCol: String = "_corrupt_record"): DataFrame =
    spark.read.option("header", "false")
      .schema(schema.add(StructField(corruptCol, StringType)))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corruptCol)
      .csv(path)

  /** S2: forced-all-string CSV, empty string preserved (NOT null) —
    * pandas dtype=str, keep_default_na=False (crawler/metadata.py:308-325).
    * The nullValue sentinel is a char that never occurs in data. */
  def readCsvAllString(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").schema(schema)
      .option("nullValue", "").option("emptyValue", "").csv(path)

  /** S3: headerless TSV with positional schema (aeneas_batch_align.py:218). */
  def readTsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("sep", "\t").option("header", "false").schema(schema).csv(path)

  /** S4: pipe-delimited CSV (prepare_prompt_for_vnavc.py:98-114). */
  def readPipeCsv(spark: SparkSession, path: String, schema: StructType,
      header: Boolean = false): DataFrame =
    spark.read.option("sep", "|").option("header", header.toString)
      .schema(schema).csv(path)

  /** S5: multi-file pretty-JSON scan, one object per file
    * (crawler/metadata.py:246-274). */
  def readMultiJson(spark: SparkSession, glob: String, schema: StructType): DataFrame =
    spark.read.option("multiLine", "true").schema(schema).json(glob)

  /** S6/A11: JSONL scan; schema inferred = union of keys
    * (file.py:69-92,142-153). */
  def readJsonl(spark: SparkSession, paths: String*): DataFrame =
    spark.read.json(paths: _*)

  /** S7: delimited-text-line scan, "a, b, c" per line
    * (crawler/metadata.py:80-91). */
  def readDelimLines(spark: SparkSession, path: String, sep: String,
      names: Seq[String]): DataFrame = {
    val parts = split(col("value"), java.util.regex.Pattern.quote(sep))
    val cols = names.zipWithIndex.map { case (n, i) => parts.getItem(i).as(n) }
    spark.read.text(path).select(cols: _*)
  }

  /** S8: raw text lines with stable 0-based line ids. `wholetext` keeps
    * one file = one row, so line numbering is exact regardless of
    * partitioning (for many-file corpora, numbering is per-file —
    * matching the reference's per-book line ids). */
  def readTextLines(spark: SparkSession, path: String): DataFrame =
    spark.read.option("wholetext", "true").text(path)
      .select(posexplode(split(col("value"), "\n")).as(Seq("line_no", "line")))
      .filter(col("line") =!= "")

  /** S9: directory-tree scan — speaker/book_idx file tree to rows
    * (whisper_qc.py:33-76). */
  def readBinaryTree(spark: SparkSession, glob: String): DataFrame =
    spark.read.format("binaryFile").load(glob)
      .withColumn("speaker_id", regexp_extract(col("path"), "([^/]+)/[^/]+$", 1))
      .withColumn("book_id", regexp_extract(col("path"), "([^/]+)_\\d+\\.\\w+$", 1))
      // nullif: regexp_extract yields '' on no-match (bad stems, F9),
      // which ANSI-mode cast would reject
      .withColumn("utt_idx",
        nullif(regexp_extract(col("path"), "_(\\d+)\\.\\w+$", 1), lit(""))
          .cast("int"))

  // ------------------------------------------------------------- sinks

  /** K1: single-file header CSV (crawler/metadata.py:295). */
  def writeCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(dir)

  /** K2: headerless TSV (aeneas_batch_align.py:225). */
  def writeTsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("sep", "\t").option("header", "false").csv(dir)

  /** K3: one JSON file per row, named by `nameCol` (__init__.py:331-340).
    * Executor-side foreach writer — rows never collect to the driver. */
  def writeJsonPerRow(df: DataFrame, nameCol: String, dir: String): Unit = {
    // Driver-side mkdir TOO (not instead — see the executor-side one
    // below): an empty/zero-partition input never runs the partition
    // closure, and callers that list `dir` after a legitimately-empty
    // run should find an empty directory, not NoSuchFileException.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val named = df.select(col(nameCol).cast("string").as("__name"),
      to_json(struct(df.columns.toIndexedSeq.map(col): _*)).as("__json"))
    named.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      // Directory creation must happen on the EXECUTOR (idempotent, once
      // per partition): on a real cluster a driver-side mkdir only exists
      // on the driver's filesystem and every task would fail.
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      rows.foreach { r =>
        val p = java.nio.file.Paths.get(dir, r.getString(0) + ".json")
        java.nio.file.Files.write(p,
          r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
  }

  /** K4: JSONL sink, append mode (prepare_prompt_for_vnavc.py:120-136). */
  def writeJsonl(df: DataFrame, dir: String, append: Boolean = false): Unit =
    df.coalesce(1).write.mode(if (append) "append" else "overwrite").json(dir)

  /** K4 compressed: gzip JSONL sink. At corpus scale JSONL ships
    * compressed (5-10× on text); gzip specifically because every
    * downstream reader speaks it — the known cost is that .gz is NOT
    * splittable, so one file = one read task. Pair with a bounded
    * per-file row count upstream (repartition before write) rather than
    * fewer, bigger archives. */
  def writeJsonlGz(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("compression", "gzip").json(dir)

  /** K8: pipe-CSV sink (prepare_prompt_for_vnavc.py:219-224). */
  def writePipeCsv(df: DataFrame, dir: String): Unit =
    df.coalesce(1).write.mode("overwrite")
      .option("sep", "|").option("header", "false").csv(dir)

  /** K5: text-lines sink, one column one line (process_all.py:351-356). */
  def writeTextLines(df: DataFrame, column: String, dir: String): Unit =
    df.select(col(column)).coalesce(1).write.mode("overwrite").text(dir)

  /** Small-file compaction: rewrite a parquet directory into
    * ceil(bytes/target)-sized files. Streaming sinks and per-batch
    * upserts accrete small files; at fleet scale the scan-planning and
    * NameNode/listing overhead of millions of small files dominates
    * actual I/O, so periodic compaction is part of the engine surface.
    * Write-then-swap (same pattern as the streaming upsert) because
    * parquet cannot be read and overwritten in one job. Returns the
    * file count after compaction. */
  def compactParquet(spark: org.apache.spark.sql.SparkSession,
      dir: String, targetBytes: Long = 128L << 20): Int = {
    // Hadoop FileSystem throughout (not java.io.File) so sizing and the
    // swap work on whatever store `dir` lives on, not just the driver's
    // local disk. Hadoop signals rename/delete failure by RETURNING
    // FALSE, not throwing — every step is checked, and the original
    // data is parked at `.old` (never deleted before the new data is
    // in place) so the worst crash window leaves a recoverable backup,
    // not a hole.
    val dirP = new org.apache.hadoop.fs.Path(dir)
    val fs = dirP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(name: String) = name.startsWith(".") || name.startsWith("_")
    // Hive-partitioned tree (subdirectories like `bucket=3/`): compact each
    // partition directory independently so the layout — and downstream
    // partition pruning — is preserved. The naive single-dir rewrite would
    // silently flatten partition columns into data columns. Reading a leaf
    // directly never re-infers its partition value, so each leaf rewrite is
    // a pure data-file compaction.
    val subdirs = fs.listStatus(dirP)
      .filter(s => s.isDirectory && !hidden(s.getPath.getName))
    if (subdirs.nonEmpty)
      return subdirs.map(s => compactParquet(spark, s.getPath.toString, targetBytes)).sum
    def parquetFiles(p: org.apache.hadoop.fs.Path) =
      fs.listStatus(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val bytes = parquetFiles(dirP).map(_.getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    // Tmp/backup siblings are dot-prefixed: inside a partitioned tree a
    // visible sibling (`bucket=3.old`) would parse as a bogus partition
    // value during discovery; hidden names are skipped by Spark and Hadoop
    // listings alike.
    val parent = dirP.getParent
    val tmpP = new org.apache.hadoop.fs.Path(parent, "." + dirP.getName + ".compact")
    spark.read.parquet(dir).repartition(nFiles)
      .write.mode("overwrite").parquet(tmpP.toString)
    val bakP = new org.apache.hadoop.fs.Path(parent, "." + dirP.getName + ".old")
    if (fs.exists(bakP)) require(fs.delete(bakP, true), s"cannot clear $bakP")
    require(fs.rename(dirP, bakP), s"cannot park $dirP at $bakP")
    require(fs.rename(tmpP, dirP), s"cannot move $tmpP to $dirP — original preserved at $bakP")
    parquetFiles(dirP).length
  }
}
