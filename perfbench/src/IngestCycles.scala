package graftbench

/** One ingest cycle per operation: a change batch for the day-partitioned
  * warehouse tables (`IncrementalCycles`, inputs under `tables/`) and a
  * document and vector batch for the corpus stores (`CorpusIngest`, inputs
  * under `corpus/`). The two chains share no data, so they run side by
  * side on two threads, as a dbt run with two threads runs two independent
  * model chains. The corpus chain has a session of its own, so neither
  * chain sees the SQL settings the other one sets for a while. */
final class IngestCycles(ctx: Ctx) extends Workload {
  private val corpusSession = ctx.spark.newSession()
  ctx.tracer.watch(corpusSession)
  private val tables = new IncrementalCycles(ctx.sub("tables", ctx.spark))
  private val corpus = new CorpusIngest(ctx.sub("corpus", corpusSession))
  require(tables.period == corpus.period, "both chains must share one period")

  def maxOps: Int = math.min(tables.maxOps, corpus.maxOps)
  override def period: Int = tables.period
  override def minOps: Int = period

  /** Runs `a` on this thread and `b` on a new one under this thread's open
    * span; rethrows the first failure once both have ended. */
  private def sideBySide(a: => Unit, b: => Unit): Unit = {
    val parent = ctx.tracer.open
    @volatile var failure: Option[Throwable] = None
    val t = new Thread(() =>
      try ctx.tracer.within(parent)(b)
      catch { case e: Throwable => failure = Some(e) })
    t.start()
    try a finally t.join()
    failure.foreach(throw _)
  }

  def setup(): Unit = sideBySide(tables.setup(), corpus.setup())

  def op(i: Int): Unit = sideBySide(tables.op(i), corpus.op(i))

  override def afterOp(i: Int, rec: OpRec): Unit = {
    val (a, b) = (new OpRec, new OpRec)
    tables.afterOp(i, a)
    corpus.afterOp(i, b)
    rec.bytesWritten = a.bytesWritten + b.bytesWritten
    rec.inputBytes = a.inputBytes + b.inputBytes
  }

  def finish(lastOp: Int, plant: Boolean): Map[String, Any] =
    Map("tables" -> tables.finish(lastOp, plant), "corpus" -> corpus.finish(lastOp, plant))

  override def extras(ops: Int): Map[String, Double] = tables.extras(ops) ++ corpus.extras(ops)
}
