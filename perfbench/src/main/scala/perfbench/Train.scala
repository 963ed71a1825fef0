package perfbench

import scala.util.Random

import graft.SparkEntry

/** `train_mix`: passes over a rotation of training queries from the
  * manifest, one per operator module plus a second graph query, each
  * written in full and checked against a stored digest. */
final class Train(h: Harness) extends Workload {
  private val expected: Map[String, Digest] = Train.loadExpected(h.cfg.expected)
  private val rnd = new Random(h.cfg.seed)

  /** Three set-up units, each scanning every input table with a noop
    * write; then one untimed, checked pass over every query, so the
    * measured pass times queries whose code paths the JVM has already
    * run once (a first run of q99_opq_topk took 7-9 s against 5-6 s
    * for its second on 4 cores). */
  def setup(): Unit = {
    (1 to 3).foreach { _ =>
      h.setupUnit(Train.Tables.foreach(t =>
        Digest.noop(h.spark.read.parquet(s"${h.cfg.trainData}/$t.parquet"))))
    }
    Train.Queries.foreach(run)
  }

  private def run(q: String): Unit = {
    val (o, d) = h.op(q) {
      h.span(Train.spanOf(q)) {
        Digest.write(SparkEntry.queries(q)(h.spark, h.cfg.trainData))
      }
    }
    d.foreach(got => h.check(o, s"$q digest $got, expected " +
      s"${expected.get(q)}")(expected.get(q).contains(got)))
  }

  def block(): Unit = {
    val pass = Gen.trainPass(rnd.nextLong(), Train.Queries)
    h.note(s"pass: ${pass.mkString(" ")}")
    pass.foreach(run)
  }

  def finish(): Unit = ()
}

object Train {
  /** Query → the operator module it exercises. */
  val Modules: Seq[(String, String)] = Seq(
    "q99_opq_topk" -> "operators.Pq",
    "q102_bigram_ppl" -> "operators.LangModel",
    "q131_triangles" -> "operators.Graph",
    "q133_kcore" -> "operators.Graph",
    "q113_mad_outliers" -> "operators.Profile",
    "q223_term_bursts" -> "operators.TextIndex")
  val Queries: Seq[String] = Modules.map(_._1)
  def spanOf(q: String): String = s"${Modules.toMap.apply(q)}.$q"

  val Tables: Seq[String] =
    Seq("lineitem", "orders", "part", "documents", "embeddings")

  /** `{"query": [rows, hash], ...}` as written by the `--record` mode. */
  def loadExpected(path: String): Map[String, Digest] = {
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8")
    """"(\w+)"\s*:\s*\[\s*(-?\d+)\s*,\s*(-?\d+)\s*\]""".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> Digest(m.group(2).toLong, m.group(3).toLong))
      .toMap
  }
}
