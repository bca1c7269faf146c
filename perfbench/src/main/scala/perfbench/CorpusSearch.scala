package perfbench

/** The two Spark-operator workloads in one run: near-dup removal over a
  * documents corpus ([[NeardupDedup]]), then top-k serving from the three
  * persisted indexes with appends and deletes ([[IndexServe]]). Each
  * cycle runs one cycle of each; neither touches the xlsx codec. They
  * share a run because each alone is mostly JVM start, set-up and the
  * first cycle's compiling: one run of both measures more work for the
  * same fixed cost. */
final class CorpusSearch(ctx: Ctx, scale: Scale) extends Workload {
  val name = "corpus_search"
  private val parts = Seq(new NeardupDedup(ctx, scale), new IndexServe(ctx, scale))
  // a cycle takes about 16 s: a third cycle or set-up does not fit the
  // time budget of the benchmark's runs
  override val setups: Int = math.min(2, scale.setups)
  override val minCycles: Int = 2
  def setup(): Unit = parts.foreach(_.setup())
  def cycle(): Unit = parts.foreach(_.cycle())
  def finalChecks(): Unit = parts.foreach(_.finalChecks())
  def readSteps: Seq[String] = parts.flatMap(_.readSteps)
  def writeSteps: Seq[String] = parts.flatMap(_.writeSteps)
  def results(): Seq[(String, Metric)] = parts.flatMap(_.results())
  override def notes: Seq[String] = parts.flatMap(_.notes)
  def layers(): Seq[(String, Metric)] = parts.flatMap(_.layers())
  def inputs: Seq[(String, Long, Long)] = parts.flatMap(_.inputs)
  def close(): Unit = parts.foreach(_.close())
}
