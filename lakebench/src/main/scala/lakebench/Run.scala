package lakebench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload iteration records: the time of each engine call by
  * kind, and every call attempted or failed (threw, or failed its output
  * check). */
final class Recorder {
  val times: mutable.Map[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** Workload counts summed over the phase (changed rows, files, ...). */
  val notes: mutable.Map[String, Double] = mutable.HashMap.empty
  var attempted, failed = 0L
  var rows = 0L
  /** Time spent in engine calls during the current iteration. */
  var iterOps = 0.0

  def add(kind: String, s: Double): Unit =
    times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s
  def note(k: String, v: Double): Unit = notes(k) = notes.getOrElse(k, 0.0) + v
  def noted(k: String): Double = notes.getOrElse(k, 0.0)
  def samples(kind: String): Seq[Double] =
    times.get(kind).map(_.toSeq).getOrElse(Nil)
}

/** The state a workload instance runs against. `trace` is None on an
  * untraced run; spans then cost nothing. */
final class Ctx(val spark: SparkSession, val seed: Long, val dir: Path) {
  var trace: Option[Trace] = None
  var rec = new Recorder

  /** One public engine call, timed (and traced when tracing): `kind` is
    * write, read, build or other. A call that throws counts as failed
    * and the exception ends the iteration. */
  def op[T](kind: String, span: String)(body: => T): T = {
    rec.attempted += 1
    val t0 = System.nanoTime()
    try trace.fold(body)(_.span(span)(body))
    catch { case e: Throwable => rec.failed += 1; throw e }
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      rec.iterOps += s
      if (kind != "other") rec.add(kind, s)
      rec.add(span, s)
    }
  }

  /** Output check of the call just made; untimed, in the benchmark's own
    * span. */
  def check(what: String)(ok: => Boolean): Unit = {
    val passed = untimed(ok)
    if (!passed) {
      rec.failed += 1
      System.err.println(s"[lakebench] check failed: $what")
    }
  }

  /** Untimed work inside an iteration (input staging, checks), kept in
    * the benchmark's own span so it never blurs a layer's numbers. */
  def untimed[T](body: => T): T = trace.fold(body)(_.span(Trace.BenchSpan)(body))
}

/** One workload: `setUp` builds the inputs and base state under
  * `ctx.dir` and returns the instance whose iterations are measured. */
trait Workload {
  def setUp(ctx: Ctx): Instance
}

trait Instance {
  /** Input rows one iteration fully processes. */
  def rowsPerIteration: Long
  /** One closed-loop iteration: engine calls through `ctx.op`, each
    * followed by its output check. */
  def iteration(i: Int): Unit
  /** Untimed final checks; with `full`, also the end-of-run metrics
    * (`space_amp`, `live_files`) that cost a rewrite or a listing. */
  def finish(full: Boolean): Map[String, Double] = Map.empty
  def close(): Unit = ()
}
