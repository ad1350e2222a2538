package graftbench

import java.io.{File, PrintWriter}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** What one closed-loop operation measured. */
final class OpRec {
  var seconds = 0.0
  var bytesWritten = 0L
  var inputBytes = 0L
}

/** A workload: inputs prepared by `setup`, then the warm-up operations
  * 0 … warmup - 1, then measured ones until time has run out, at least
  * `minOps` ran and the last `period` is complete, or the inputs run out. */
trait Workload {
  def maxOps: Int
  /** Operations per cycle of periodic work (maintenance, compaction). */
  def period: Int = 1
  /** Measured operations a run takes at least, so its median rests on
    * more than one of them. */
  def minOps: Int = 3
  def setup(): Unit
  def op(i: Int): Unit
  /** Bookkeeping after an operation, outside its timed window. */
  def afterOp(i: Int, rec: OpRec): Unit = ()
  /** Export what the correctness gate checks; with `plant`, corrupt one
    * exported answer on purpose. Returns facts the gate needs. */
  def finish(lastOp: Int, plant: Boolean): Map[String, Any]
  /** Per-layer facts that spans cannot give (traced runs only). */
  def extras(ops: Int): Map[String, Double] = Map.empty
}

final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val inputs: String, val work: String, val benchDir: String, val nproc: Int,
    val warmup: Int) {
  /** The same run, reading the inputs under `inputs/<dir>` through `session`. */
  def sub(dir: String, session: SparkSession): Ctx =
    new Ctx(session, tracer, s"$inputs/$dir", work, benchDir, nproc, warmup)
  def timed[T](body: => T): (T, Double) = {
    val t = System.nanoTime(); val r = body; (r, (System.nanoTime() - t) / 1e9)
  }
}

/** Runs one workload in one JVM and writes `<work>/result.json`:
  *   --workload W --inputs DIR --work DIR --bench-dir DIR --seconds S
  *   --trace 0|1 --nproc N --warmup N [--plant 1] */
object BenchMain {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val trace = a("trace") == "1"
    val nproc = a("nproc").toInt
    val work = a("work")
    val spark = graft.Verify.session(nproc.toString, Map(
      "spark.local.dir" -> s"$work/spark-local",
      "spark.sql.streaming.checkpointLocation" -> s"$work/checkpoints"))
    spark.sparkContext.setLogLevel("WARN")
    val sessionReadyMs = System.currentTimeMillis()
    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, a("inputs"), work, a("bench-dir"), nproc,
      a("warmup").toInt)
    val wl: Workload = a("workload") match {
      case "dag_refresh" => new DagRefresh(ctx)
      case "ingest_cycles" => new IngestCycles(ctx)
    }
    val (_, bootstrapS) = ctx.timed(wl.setup())
    val (_, warmupS) = ctx.timed((0 until ctx.warmup).foreach { i =>
      wl.op(i)
      wl.afterOp(i, new OpRec)
    })
    tracer.drain()
    tracer.clear()

    val ops = mutable.ArrayBuffer.empty[OpRec]
    val errors = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var i = ctx.warmup
    // at least minOps and whole periods, so every run measures the same mix
    def more = {
      val n = i - ctx.warmup
      System.nanoTime() < deadline || n < wl.minOps || n % wl.period != 0
    }
    while (more && i < wl.maxOps) {
      val rec = new OpRec
      tracer.traceId = i
      val (ok, s) = ctx.timed {
        try { tracer.span("op")(wl.op(i)); true }
        catch { case e: Exception => errors += s"op $i: $e"; e.printStackTrace(); false }
      }
      rec.seconds = s
      if (ok) { wl.afterOp(i, rec); ops += rec }
      i += 1
    }
    tracer.drain()
    val gate = wl.finish(i - 1, a.get("plant").contains("1"))

    val out = mutable.LinkedHashMap[String, Any](
      "session_ready_ms" -> sessionReadyMs,
      "bootstrap_s" -> bootstrapS,
      "warmup_s" -> warmupS,
      "finished_ms" -> System.currentTimeMillis(),
      "attempted" -> (i - ctx.warmup),
      "errors" -> errors.toSeq,
      "ops" -> ops.map(r => Map("s" -> r.seconds, "bytes_written" -> r.bytesWritten,
        "input_bytes" -> r.inputBytes)).toSeq,
      "gate" -> gate)
    if (trace) {
      out("spans") = spanSummary(tracer)
      out("extras") = wl.extras(ops.size) ++ streamingExtras(tracer, ops.size)
      writeSpanFile(tracer, s"$work/spans.jsonl")
    }
    val pw = new PrintWriter(new File(s"$work/result.json"))
    try pw.write(Json(out)) finally pw.close()
    spark.stop()
  }

  private val countFields: Seq[(String, Counts => Double)] = Seq(
    "jobs" -> (_.jobs.toDouble), "stages" -> (_.stages.toDouble),
    "tasks" -> (_.tasks.toDouble), "scan_tasks" -> (_.scanTasks.toDouble),
    "failed_tasks" -> (_.failedTasks.toDouble),
    "executor_run_s" -> (_.runMs / 1e3), "executor_cpu_s" -> (_.cpuNs / 1e9),
    "gc_s" -> (_.gcMs / 1e3), "shuffle_read_bytes" -> (_.shuffleRead.toDouble),
    "shuffle_write_bytes" -> (_.shuffleWrite.toDouble),
    "spill_bytes" -> (_.spill.toDouble), "input_bytes" -> (_.input.toDouble),
    "output_bytes" -> (_.output.toDouble))

  private def spanFacts(t: Tracer, s: Span, children: Seq[Span]): Seq[(String, Double)] = {
    val c = t.counts(s)
    Seq("s" -> s.seconds, "self_s" -> t.selfSeconds(s, children),
      "driver_gap_s" -> t.driverGap(s)) ++ countFields.map { case (k, f) => k -> f(c) }
  }

  /** Per span name: number of calls and the sum of every span fact. */
  private def spanSummary(t: Tracer): Map[String, Map[String, Double]] = {
    val spans = t.all
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val sums = mutable.LinkedHashMap("calls" -> ss.size.toDouble)
      ss.foreach(s => spanFacts(t, s, kids.getOrElse(s.id, Nil)).foreach {
        case (k, v) => sums(k) = sums.getOrElse(k, 0.0) + v
      })
      name -> sums.toMap
    }
  }

  /** Micro-batches inside the streaming spans: how long after the span
    * started the first batch began, mean batch time, batches per op. */
  private def streamingExtras(t: Tracer, ops: Int): Map[String, Double] = {
    val batches = t.batchListener.toSeq.flatMap(_.batches.asScala)
    val per = t.all.filter(_.name.startsWith("streaming.")).map { s =>
      s -> batches.filter { case (ts, _) => ts >= s.startMs && ts <= s.endMs }
    }
    val starts = per.collect { case (s, bs) if bs.nonEmpty => (bs.map(_._1).min - s.startMs) / 1e3 }
    val durations = per.flatMap(_._2.map(_._2 / 1e3))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Map("streaming.start_s" -> mean(starts), "streaming.batch_s" -> mean(durations),
      "streaming.batches" -> durations.size.toDouble / math.max(1, ops))
  }

  private def writeSpanFile(t: Tracer, path: String): Unit = {
    val spans = t.all
    val t0 = spans.headOption.map(_.startMs).getOrElse(0L)
    val kids = spans.groupBy(_.parent)
    val pw = new PrintWriter(new File(path))
    try spans.foreach { s =>
      pw.println(Json(mutable.LinkedHashMap[String, Any](
        "trace_id" -> s.traceId, "span_id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> (s.startMs - t0), "end_ms" -> (s.endMs - t0),
        "counts" -> spanFacts(t, s, kids.getOrElse(s.id, Nil)).toMap)))
    } finally pw.close()
  }
}

/** Local file listings, from outside the program. */
object Files {
  /** path → bytes of every data file under a local path or `file:` URI. */
  def under(path: String): Map[String, Long] = {
    val root = new File(path.stripPrefix("file:"))
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f.getPath -> f.length())
    walk(root).toMap
  }
  /** Bytes of the files in `now` that were not in `before`. */
  def newBytes(before: Map[String, Long], now: Map[String, Long]): Long =
    now.iterator.collect { case (p, n) if !before.contains(p) => n }.sum
}

/** Minimal JSON writer for maps, sequences, strings and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case (x, y) => apply(Seq(x, y))
    case (x, y, z) => apply(Seq(x, y, z))
    case other => apply(other.toString)
  }
}
