package graftbench

/** The daily lake ingest ([[LakeIngest]]) followed by the day's profile
  * and data-card publication ([[CardProfile]]), as one pass: writes and
  * catalog/SQL reads beside the job-count-bound profiling operators.
  */
object LakeCard extends Workload {
  val name = "lake_card"
  private val sections = Seq(LakeIngest, CardProfile)
  def rowsPerPass: Long = sections.map(_.rowsPerPass).sum
  def generate(ctx: Ctx): Unit = sections.foreach(_.generate(ctx))
  def setup(ctx: Ctx): Unit = sections.foreach(_.setup(ctx))
  def pass(ctx: Ctx): Unit = sections.foreach(_.pass(ctx))
  def teardown(ctx: Ctx): Unit = sections.foreach(_.teardown(ctx))
  /** Only the ingest section writes through `sinks` during a pass. */
  def storedBytes(ctx: Ctx): (Long, Long) = LakeIngest.storedBytes(ctx)
}
