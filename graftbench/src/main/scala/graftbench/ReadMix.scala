package graftbench

/** Read-only closed loop, one client: the seven read shapes and the
  * eight pipeline operators. Nothing commits. One JVM and one set-up
  * serve both, which keeps a full measurement pass within its time
  * budget; each round runs every shape and every operator once, in a
  * seeded order. */
final class ReadMix extends Workload {
  private val olap = new OlapRead
  private val pipe = new PipelineOps
  val primaryRoles: Set[String] = Set("read", "pipeline")

  def setup(ctx: Ctx, ns: String): Unit = Main.parallel(() => olap.setup(ctx, ns), () => pipe.setup(ctx, ns))
  def warmUp(ctx: Ctx): Unit = Main.parallel(() => olap.warmUp(ctx), () => pipe.warmUp(ctx))

  def run(ctx: Ctx): Unit = {
    olap.startLoop(ctx)
    val check = pipe.references(ctx)
    val rng = new scala.util.Random(ctx.args.seed)
    ctx.rounds(rng.shuffle(Olap.Shapes ++ Metrics.Pipeline).foreach { k =>
      if (Olap.Shapes.contains(k)) olap.readOnce(ctx, k, rng) else pipe.opOnce(ctx, k, check)
    })
  }

  override def beforeChecks(ctx: Ctx): Unit = olap.beforeChecks(ctx)
}
