package graft.engine

import graft.engine.index.{Si, SiRewriteRule}
import graft.engine.source.CarbonishScan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Property test for the automatic SI rewrite: over ARBITRARY generated
  * filter shapes (equality / IN / extra range and string conjuncts /
  * disjunctions / values that miss every segment), the rewritten query
  * must return exactly the rows the un-rewritten plan returns —
  * superset-pin + exact-residual can never change an answer, only the
  * files scanned. (Plain scalacheck generators driven from a loop, as
  * in SqlTextPropsSpec.) */
class SiRewritePropsSpec extends AnyFunSuite {
  import TestSpark._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("rewritten filters ≡ unrewritten filters on arbitrary predicates") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val root = Files.createTempDirectory("graft_siprop_").toString
    val t = GraftTable.create(spark, s"$root/t", src.schema, Seq("o_orderkey"))
    Seq("O", "F", "P").foreach(s0 =>
      t.insert(src.filter(col("o_orderstatus") === s0)))
    Si.create(t, "o_orderstatus", s"$root/si")

    val status: Gen[String] = Gen.frequency(
      3 -> Gen.oneOf("O", "F", "P"),
      1 -> Gen.oneOf("Z", "", "o")) // misses (incl. case-sensitivity probe)
    val statusPred: Gen[Column] = Gen.frequency(
      3 -> status.map(col("o_orderstatus") === _),
      2 -> Gen.choose(1, 4).flatMap(n => Gen.listOfN(n, status))
        .map(vs => col("o_orderstatus").isin(vs.distinct: _*)))
    val extra: Gen[Option[Column]] = Gen.frequency(
      2 -> Gen.const(None),
      2 -> Gen.choose(0.0, 500000.0).map(v => Some(col("o_totalprice") > v)),
      1 -> Gen.choose(0L, 2000L).map(v => Some(col("o_custkey") < v)),
      1 -> Gen.const(Some(col("o_orderstatus") =!= "O"))) // same col, non-lookup shape
    val pred: Gen[Column] = for {
      sp <- statusPred
      ex <- extra
      or <- Gen.frequency(4 -> Gen.const(None),
        1 -> status.map(s0 => Some(col("o_orderstatus") === s0))) // disjunction: no rewrite
    } yield {
      val base = ex.map(sp && _).getOrElse(sp)
      or.map(base || _).getOrElse(base)
    }

    samples(pred, 40).zipWithIndex.foreach { case (p, i) =>
      val rewritten = t.read.filter(p)
        .agg(count(lit(1)), sum("o_orderkey"), sum("o_totalprice"))
        .collect().head
      // baseline with the rule uninstalled (the production rule has no
      // disable switch — nothing internal needs one)
      val rules = t.spark.experimental.extraOptimizations
      t.spark.experimental.extraOptimizations =
        rules.filterNot(_.isInstanceOf[SiRewriteRule])
      val plain =
        try {
          val q = t.read.filter(p)
            .agg(count(lit(1)), sum("o_orderkey"), sum("o_totalprice"))
          // the baseline must really be unrewritten: no table access may
          // have put the rule back and pinned the scan to SI segments
          val pinned = q.queryExecution.optimizedPlan.collect {
            case r: DataSourceV2ScanRelation => r.scan
          }.collect { case cs: CarbonishScan if cs.scanOptions.containsKey("segments") => cs }
          assert(pinned.isEmpty, s"case $i baseline is SI-pinned on predicate $p")
          q.collect().head
        } finally t.spark.experimental.extraOptimizations = rules
      assert(rewritten == plain, s"case $i diverged on predicate $p")
    }
  }
}
