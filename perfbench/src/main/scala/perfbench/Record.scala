package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry

/** Records the expected digests of the training queries:
  *
  *   Record <train_data_dir> <out_dir>
  *
  * writes each query's output as parquet under `<out_dir>/<query>`, the
  * oracle SQL and manifest `tools/check.py` reads, and `digests.json`
  * (the format `Train.loadExpected` reads). Only digests whose outputs
  * pass `tools/check.py <train_data_dir> <out_dir>` belong in
  * `expected_digests.json`. */
object Record {
  def main(args: Array[String]): Unit = {
    val Array(data, out) = args
    Files.createDirectories(Paths.get(out))
    val spark = Main.session(s"$out/.work")
    try {
      val digests = Train.Queries.map { q =>
        val d = Digest.write(SparkEntry.queries(q)(spark, data))
        SparkEntry.queries(q)(spark, data).coalesce(1)
          .write.mode("overwrite").parquet(s"$out/$q")
        s"  ${Json.str(q)}: [${d.rows}, ${d.hash}]"
      }
      Files.write(Paths.get(out, "digests.json"),
        digests.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
      val oracle = SparkEntry.oracleSql.filter(kv => Train.Queries.contains(kv._1))
      Files.write(Paths.get(out, "oracle_sql.json"),
        Json.obj(oracle.toSeq.map { case (k, v) => k -> Json.str(v) })
          .getBytes("UTF-8"))
      Files.write(Paths.get(out, "queries.json"),
        Train.Queries.map(Json.str).mkString("[", ", ", "]").getBytes("UTF-8"))
    } finally spark.stop()
  }
}
