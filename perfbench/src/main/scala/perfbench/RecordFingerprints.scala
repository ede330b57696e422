package perfbench

import org.apache.spark.sql.SparkSession

/** Prints `name<TAB>rows<TAB>hashSum` for query outputs saved as
  * `<dir>/<name>.parquet` (the layout `graft.tools.VerifySome` writes).
  * The expected fingerprints in `data/fingerprints.tsv` come from outputs
  * that first passed `tools/oracle_check.py` against DuckDB:
  *
  *   VerifySome <sfDir> <out> <names...>; oracle_check.py <sfDir> <out> <names...>;
  *   RecordFingerprints <out> <names...>
  */
object RecordFingerprints {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try args.tail.foreach { n =>
      println(s"$n\t${Fingerprint.of(spark.read.parquet(s"${args(0)}/$n.parquet"))}")
    } finally spark.stop()
  }
}
