package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its seed and scale, a private
  * work directory, the tracer and the planted-error switch. */
final case class Ctx(spark: SparkSession, seed: Long, scale: Double,
    dir: Path, tracer: Tracer, plant: Boolean) {
  def path(name: String): String = dir.resolve(name).toString
}

/** A closed-loop workload: one client thread issues the operations of a
  * fixed, seeded schedule one after another. `cycle` runs one round of
  * that schedule; each operation is timed on its own and its output is
  * checked outside the timed interval. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tracer: Tracer = ctx.tracer

  /** Build the inputs from the seed (not timed). */
  def generate(): Unit

  /** One complete set-up into fresh state (timed); `rep` numbers the
    * repetitions and the last one stays in place for the timed phase. */
  def setup(rep: Int): Unit

  /** The benchmark's own bookkeeping after each set-up: reference models,
    * byte baselines, removing files the set-up left (not timed). */
  def afterSetup(rep: Int): Unit = ()

  /** Nominal seconds of one cycle at full scale: a run of `--seconds S`
    * measures max(1, floor(S / cycleSeconds)) cycles, a count fixed by
    * the arguments alone so every commit measures the same operations. */
  def cycleSeconds: Double

  /** One round of the operation schedule. */
  def cycle(): Seq[Op]

  /** Checks that need the whole run (not timed); returns failed ops. */
  def finish(): Int = 0

  /** Bytes written under the workload's lake roots ÷ user bytes submitted,
    * since the set-up. */
  def writeAmp: Double
  /** Lake-root bytes ÷ bytes referenced by the latest version. */
  def spaceAmp: Double

  /** Extra end-of-run figures for the report: name → (value, unit). */
  def report: Seq[(String, Double, String)] = Nil

  /** Per-layer counters beyond the span totals (traced runs only). */
  def layerMetrics(): Map[String, Double] = Map.empty

  /** Whether the traced run also records the last set-up's spans. */
  def setupSpans: Boolean = false

  /** Spans and counters reported only by this workload, beyond the
    * shared lists below. */
  def extraSpans: Seq[String] = Nil
  def extraCounters: Seq[(String, String)] = Nil

  /** Set while the measured loop runs. */
  var timed = false

  /** Untimed, before the set-ups: exercise the code paths once so the
    * JIT has compiled them before anything is measured. */
  def warmup(): Unit = ()

  private var planted = false
  /** True exactly once, in the measured loop, when --plant is set: the
    * caller then corrupts the result it is about to check, which must
    * count as a failed op. */
  protected def plantOnce(): Boolean =
    if (ctx.plant && timed && !planted) { planted = true; true } else false

  protected val failures = mutable.ArrayBuffer.empty[String]
  def failureNotes: Seq[String] = failures.toSeq

  /** Time one operation; an exception counts the op as failed. The
    * `check` runs after the clock stops. */
  protected def op(kind: String, name: String)(body: => Unit)(
      check: => Boolean): Op = {
    val t0 = System.nanoTime()
    val ran =
      try { body; true }
      catch {
        case scala.util.control.NonFatal(e) =>
          failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
          false
      }
    val ms = Clock.ms(t0)
    val ok = ran && {
      val good =
        try check
        catch {
          case scala.util.control.NonFatal(e) =>
            failures += s"$name check threw ${e.getClass.getSimpleName}: ${e.getMessage}"
            false
        }
      if (!good && !failures.exists(_.startsWith(name + " "))) failures += s"$name wrong result"
      good
    }
    Op(kind, name, ms, ok)
  }
}

object Workload {
  /** Span names every traced run of `curate` and `lake` reports (zero
    * where a span did not run), grouped by layer. */
  val SpanNames: Seq[String] = Seq(
    "ingest.commit", "ingest.delete", "ingest.time_travel",
    "sources.scan_range", "sources.scan_point",
    "streaming.upsert", "ops.aggregate",
    "ml.quality", "ml.dedup", "ml.decontam", "ml.mix", "ml.pack")

  /** Layer counters reported by every traced run (zero where idle). */
  val LayerCounters: Seq[(String, String)] = Seq(
    "ml.dedup.pair_yield" -> "ratio",
    "sources.scan_range.files_read_ratio" -> "ratio",
    "sources.scan_point.files_read_ratio" -> "ratio",
    "ingest.live_files" -> "count", "ingest.versions" -> "count",
    "ingest.compactions" -> "count", "ingest.bytes_rewritten_mb" -> "MB",
    "functions.minhash.ns_per_row" -> "ns", "functions.bpe.ns_per_row" -> "ns")
}
