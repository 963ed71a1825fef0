package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Materialize

/** Source ingestion helpers (the reference pulls CSVs from remote buckets
  * via source_conn helpers — R/source_conn_helpers.R; here sources are
  * local/cluster paths in any Spark-supported format).
  */
object Sources {

  /** Schema-enforced CSV read (no runtime inference pass at scale). */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .csv(path)

  /** Schema-enforced JSON-lines read. Inference is off for the same
    * reason as CSV (it is a full extra pass over the data); malformed
    * lines land in `_corrupt_record` instead of failing the job
    * (PERMISSIVE), so a feed with a bad producer degrades to a
    * quantified quarantine count, not a dead pipeline. Call
    * [[quarantine]] to split them out. */
  def jsonLines(spark: SparkSession, path: String,
                schema: StructType): DataFrame = {
    val withCorrupt =
      if (schema.fieldNames.contains("_corrupt_record")) schema
      else schema.add("_corrupt_record", "string")
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
  }

  /** Split a PERMISSIVE read into (clean, quarantined) — quarantined
    * rows keep only the raw record for replay after the producer fix.
    * Spark requires the corrupt-record frame to be materialized before
    * filtering on the corrupt column alone: both halves read one
    * checkpoint, released once both are dropped. */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    val cached = Materialize(df)
    (cached.filter(col("_corrupt_record").isNull)
        .drop("_corrupt_record"),
      cached.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw")))
  }

  /** Write `df` as a bucketed catalog table: rows are hash-partitioned
    * into `numBuckets` files by `keys` and sorted within buckets. Two
    * tables bucketed the same way join WITHOUT a shuffle (the scan
    * itself provides the hash partitioning) — the co-located-join
    * building block for repeated fact-fact joins at warehouse scale.
    * BucketedJoinSpec asserts the shuffle-free plan. */
  def writeBucketed(df: DataFrame, table: String, keys: Seq[String],
                    numBuckets: Int): Unit =
    df.write
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  private val UrlRe = """(?i)\b(?:https?|ftp)://\S+""".r
  private val DateRe = """\d{4}-\d{2}-\d{2}""".r

  /** Resolve a file against a source connection (reference:
    * R/source_conn_helpers.R `source_conn_path`). A URL source is a
    * string join (trailing slash stripped); a directory source is listed
    * through the Hadoop FileSystem (works for local, HDFS, or object
    * stores) and matched by prefix so compressed forms (`x.csv.gz`) of a
    * requested `x.csv` still resolve. Missing file → named error. */
  def resolvePath(spark: SparkSession, sourceConn: String,
                  file: String): String =
    if (UrlRe.pattern.matcher(sourceConn).matches())
      sourceConn.stripSuffix("/") + "/" + file
    else {
      val dir = new org.apache.hadoop.fs.Path(sourceConn)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val isDir =
        try fs.getFileStatus(dir).isDirectory
        catch { case _: java.io.FileNotFoundException => false }
      if (!isDir)
        throw new IllegalArgumentException(
          s"source_conn could not be parsed to valid directory or URL: " +
            sourceConn)
      fs.listStatus(dir).map(_.getPath.getName).sorted
        .find(_.startsWith(file))
        .map(m => s"${sourceConn.stripSuffix("/")}/$m")
        .getOrElse(throw new IllegalArgumentException(
          s"$file could not be found in $sourceConn"))
    }

  /** Fuzzy-date resolution over a listing (reference:
    * R/source_conn_helpers.R `source_conn_github`): when the requested
    * file name embeds a `yyyy-MM-dd` date, return the candidate with the
    * latest chronologically-earlier-or-equal date whose name otherwise
    * matches. Dated snapshot feeds publish on their own cadence; a query
    * for 2024-03-15 should read the 2024-03-10 drop, not fail. */
  def resolveDated(listing: Seq[String], file: String): Option[String] = {
    val fileDate = DateRe.findFirstIn(file).getOrElse(
      throw new IllegalArgumentException(s"no yyyy-MM-dd date in $file"))
    // Non-date parts of the requested name match literally; the WHOLE
    // candidate name must match (a substring match would accept names
    // that merely contain the pattern), and the compared date is the
    // one at the pattern's date position — captured by group, never
    // scraped from elsewhere in the name.
    val pattern = ("^" + DateRe.pattern.split(file, -1)
      .map(java.util.regex.Pattern.quote(_))
      .mkString("(" + DateRe.regex + ")") + "$").r
    listing
      .flatMap(n => pattern.findFirstMatchIn(n).map(m => m.group(1) -> n))
      .filter(_._1 <= fileDate) // ISO strings: lexicographic = chronological
      .sortBy(_._1)
      .lastOption.map(_._2)
  }

  /** `resolveDated` against a directory listing through the Hadoop
    * FileSystem (the reference's local-git-checkout branch, sans pull —
    * ingestion freshness is the caller's concern on a cluster). */
  def resolveDatedDir(spark: SparkSession, sourceConn: String,
                      file: String): String = {
    val rel = Option(new java.io.File(file).getParent).getOrElse("")
    val dirPath = if (rel.isEmpty) sourceConn.stripSuffix("/")
      else s"${sourceConn.stripSuffix("/")}/$rel"
    val dir = new org.apache.hadoop.fs.Path(dirPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(dir).map(_.getPath.getName).toSeq
    resolveDated(names, new java.io.File(file).getName)
      .map(m => s"$dirPath/$m")
      .getOrElse(throw new IllegalArgumentException(
        s"no dated match for $file in $dirPath"))
  }

  /** Wide → long unpivot of metric columns (the Ecdc/Google `by-age`
    * pivot_longer ingest shape): keeps `idCols`, melts `metricCols` into
    * (metric, value) rows. */
  def unpivot(df: DataFrame, idCols: Seq[String],
              metricCols: Seq[String]): DataFrame = {
    val arms = metricCols.map(m =>
      s"'$m', cast(`$m` as double)").mkString(", ")
    df.selectExpr(idCols.map(c => s"`$c`") :+
      s"stack(${metricCols.size}, $arms) as (metric, value)": _*)
  }
}
