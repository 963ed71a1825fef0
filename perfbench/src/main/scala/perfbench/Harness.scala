package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line settings of one run. */
final case class Config(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    storeData: String, trainData: String, fixture: String, work: String,
    expected: String)

object Config {
  def parse(args: Array[String]): Config = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments near: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Config(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") == "1", get("store-data"), get("train-data"),
      get("fixture"), get("work"), get("expected"))
  }
}

/** One measured operation: its kind and latency. `checked` turns true
  * once its result has been checked; `failed` records a thrown call or
  * a failed check. */
final class Op(val kind: String, val ms: Double) {
  var checked = false
  var failed = false
}

/** Shared run state: the session, the optional tracer, and what the
  * run measured. One client issues every operation from this thread. */
final class Harness(val spark: SparkSession, val cfg: Config,
                    val tracer: Option[Tracer]) {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Op]
  private var refs = 0

  def traced: Boolean = tracer.isDefined

  def span[A](name: String, tableBytes: => Long = 0L)(body: => A): A =
    tracer match {
      case Some(t) => t.span(name, tableBytes)(body)
      case None => body
    }

  /** Time one set-up unit. */
  def setupUnit(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    setupS += (System.nanoTime() - t0) / 1e9
  }

  /** Time `body` as one operation. A throw counts as a failed op. */
  def op[A](kind: String)(body: => A): (Op, Option[A]) = {
    val t0 = System.nanoTime()
    val out = scala.util.Try(body)
    val o = new Op(kind, (System.nanoTime() - t0) / 1e6)
    note(f"$kind ${o.ms}%.0f ms")
    out.failed.foreach { e =>
      note(s"$kind threw: $e")
      o.checked = true
      o.failed = true
    }
    ops += o
    (o, out.toOption)
  }

  /** Check a result outside any timed region; a throw fails it too. */
  def check(o: Op, what: String)(ok: => Boolean): Unit = {
    val r = scala.util.Try(ok)
    if (!r.getOrElse(false)) {
      note(s"${o.kind} check failed: $what" +
        r.failed.map(e => s" ($e)").getOrElse(""))
      o.failed = true
    }
    o.checked = true
  }

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def path(name: String): String = Paths.get(cfg.work, name).toString

  /** A fresh path for a cache-free reference read of the store at
    * `dir`: a symbolic link no plan has read through yet, so nothing
    * the program cached under `dir` can serve it. */
  def refLink(dir: String): Path = {
    refs += 1
    val link = Paths.get(cfg.work, s"ref_$refs")
    Files.createSymbolicLink(link, Paths.get(dir).toAbsolutePath)
  }
}

object Harness {
  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(p => Files.copy(p, to.resolve(from.relativize(p))))
    finally s.close()
  }

  /** Bytes of the regular files under `dir` (0 when absent). */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
