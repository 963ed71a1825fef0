package perfbench

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Row count plus an order-independent hash of every column of every
  * row: two results with equal digests hold the same multiset of rows. */
final case class Digest(rows: Long, hash: Long)

object Digest {
  private def exprs(df: DataFrame): Seq[Column] = {
    val all = df.columns.toSeq.map(c => col("`" + c.replace("`", "``") + "`"))
    Seq(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(all: _*), lit(2147483647L))), lit(0L))
        .as("h"))
  }

  /** Materialize `df` in full with a noop write of all its columns,
    * reading the digest off the same job. */
  def write(df: DataFrame): Digest = {
    val obs = Observation()
    val e = exprs(df)
    df.observe(obs, e.head, e.tail: _*)
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest(m("n").asInstanceOf[Long], m("h").asInstanceOf[Long])
  }

  /** The digest alone (an aggregate job; nothing else is written). */
  def of(df: DataFrame): Digest = {
    val e = exprs(df)
    val r = df.agg(e.head, e.tail: _*).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  /** A noop write of all columns, for intermediate frames. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}
