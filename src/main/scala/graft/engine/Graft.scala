package graft.engine

import graft.engine.catalog.GraftDmlStrategy
import graft.engine.index.{SiRewriteRule, TextMatchRule}
import graft.engine.mv.MvRewriteRule
import org.apache.spark.sql.SparkSession

/** The one place graft extends a Spark session — the analog of the
  * reference's `CarbonExtensions` (CarbonExtensions.scala:31-62):
  *   - the MV, SI and `text_match` rewrite rules, appended in that
  *     order to `experimental.extraOptimizations`;
  *   - [[GraftDmlStrategy]] (SQL UPDATE / MERGE) in
  *     `experimental.extraStrategies`;
  *   - the `text_match` / `text_match_with_limit` marker functions.
  *
  * Every [[GraftTable]], every catalog table load and
  * [[graft.engine.mv.Mv.load]] call [[install]], so a session gets the
  * whole set the first time it touches a graft table. The rules run in
  * the "User Provided Optimizers" batch, after `V2ScanRelationPushDown`:
  * the SI and text rules match on the `DataSourceV2ScanRelation` that
  * pushdown produces, which an `injectOptimizerRule` rule would never
  * see.
  *
  * The strategy instance doubles as the installed marker. It is
  * published last, so a session that has it has everything; the fast
  * path is one volatile read and a list walk. A `cloneSession()` child
  * copies the experimental methods and the function registry, so it
  * never installs again, and a caller that later removes one rule (a
  * spec taking a baseline) is not silently undone. */
object Graft {
  private val lock = new Object

  private val err = "text_match() applies to carbonish table scans only " +
    "(the index rewrite rule did not fire on this plan)"

  def install(spark: SparkSession): Unit =
    if (!installed(spark)) lock.synchronized {
      if (!installed(spark)) {
        val ex = spark.experimental
        val f1: String => Boolean = _ => throw new UnsupportedOperationException(err)
        val f2: (String, Int) => Boolean = (_, _) => throw new UnsupportedOperationException(err)
        spark.udf.register("text_match", f1)
        spark.udf.register("text_match_with_limit", f2)
        ex.extraOptimizations = ex.extraOptimizations ++
          Seq(new MvRewriteRule, new SiRewriteRule, new TextMatchRule)
        ex.extraStrategies = ex.extraStrategies :+ new GraftDmlStrategy
      }
    }

  private def installed(spark: SparkSession): Boolean =
    spark.experimental.extraStrategies.exists(_.isInstanceOf[GraftDmlStrategy])
}
