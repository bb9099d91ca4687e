package perfbench

/** `cdc_etl`: both table protocols in one closed loop. An iteration
  * runs the [[DeltaCdc]] chain (native Delta log: appends, deletion-
  * vector deletes, updates, merges, a post-commit checkpoint, then
  * snapshot and change-feed reads) and then the [[VersionedEtl]] chain
  * (graft's manifest protocol through the silver YAML, `commitDelta`
  * appends, rollup refreshes, reads and a stream catch-up). The two
  * share the commit layer through different paths, so a change that
  * speeds one protocol at the other's cost shows in the per-layer
  * metrics of this one workload.
  */
final class CdcEtl extends Workload {
  private val delta = new DeltaCdc
  private val etl = new VersionedEtl

  def generate(ctx: Ctx): Unit = { delta.generate(ctx); etl.generate(ctx) }

  def setup(ctx: Ctx): Unit = { delta.setup(ctx); etl.setup(ctx) }

  def iteration(ctx: Ctx): IterFacts = {
    val a = delta.iteration(ctx)
    val b = etl.iteration(ctx)
    IterFacts(a.storageBytes + b.storageBytes, a.liveRows + b.liveRows)
  }
}
