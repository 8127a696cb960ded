package graftbench

import graft.engine.GraftTable
import graft.engine.index.VectorIndex
import graft.ops.{Ann, Decontaminate, Dedup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._

/** The eight pipeline operators over graft tables of seeded documents
  * (with planted exact and near duplicates) and seeded embeddings (with
  * a vector index), queried by seeded noisy query vectors; one timed
  * call at a time. Commit and pruning work is negligible. */
final class PipelineOps {
  private val ShingleN = 3
  private val NumHashes = 6
  private val Bands = 3
  private val JaccMin = 0.5
  private val NgramTau = 0.6
  private val Nlist = 8
  private val PqBlocks = 2
  private val K = 5

  private var ns: String = _
  private var centroids: Seq[Seq[Double]] = _
  private var books: Seq[Seq[Seq[Double]]] = _
  private def docsPath(ctx: Ctx) = s"${ctx.wh}/$ns/pdocs"
  private def embPath(ctx: Ctx) = s"${ctx.wh}/$ns/emb"

  private def quantized(df: DataFrame): DataFrame =
    df.select(col("vec_id").cast("long").as("id"), Ann.quantize(col("embedding")).as("qv"))
      .withColumn("nq", Ann.normQ(col("qv")))

  def setup(ctx: Ctx, ns: String): Unit = {
    val spark = ctx.spark
    this.ns = ns
    new java.io.File(s"${ctx.wh}/$ns").mkdirs()
    val docs = ctx.input("pdocs")
    Main.step("pdocs") {
      val dt = GraftTable.create(spark, docsPath(ctx), docs.schema, Seq("doc_id"))
      dt.insert(docs.filter(col("doc_id") < Data.PipelineDocs / 2))
      dt.insert(docs.filter(col("doc_id") >= Data.PipelineDocs / 2))
    }
    val et = Main.step("emb")(GraftTable.createAsSelect(spark, embPath(ctx), ctx.input("embeddings"),
      Seq("vec_id")))
    Main.step("vector index")(VectorIndex.create(et, "vec_id", "embedding", s"${ctx.wh}/${ns}_vidx",
      VectorIndex.Params(dim = Data.Dim, nlist = Nlist, m = PqBlocks, ksub = 16, iters = 1)))
    val corpus = quantized(et.read)
    Main.step("ivf") { centroids = Ann.trainCentroids(corpus.select("id", "qv"), Nlist, 1) }
    Main.step("pq") { books = Ann.pqTrain(corpus.select("id", "qv"), PqBlocks, 16, 1, Data.Dim) }
  }

  def warmUp(ctx: Ctx): Unit = Metrics.Pipeline.foreach(o => Main.step("warm " + o)(call(ctx, o).collect()))

  private def read(ctx: Ctx, path: String): DataFrame =
    ctx.tr.call("GraftTable.read", "engine")(GraftTable.at(ctx.spark, path).read)

  private def tokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), Dedup.normTokens(col("text")).as("toks"))
      .filter(size(col("toks")) >= ShingleN)

  /** The operator's result DataFrame, built through graft.ops. */
  private def call(ctx: Ctx, op: String): DataFrame = {
    val tr = ctx.tr
    op match {
      case "dedup_exact" =>
        tr.call("Dedup.exact", "ops")(read(ctx, docsPath(ctx))
          .groupBy(md5(lower(trim(col("text")))).as("content_md5"))
          .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
          .filter(col("n") > 1))
      case "dedup_minhash" => tr.call("Dedup.minhash", "ops") {
        val toks = tokens(read(ctx, docsPath(ctx))).withColumn("th", Dedup.tokenHashes(col("toks")))
        val sig = Dedup.minhashSignatures(toks.select("id", "toks"), ShingleN, NumHashes)
        val pairs = Dedup.lshCandidates(sig, NumHashes, Bands)
        val ta = toks.select(col("id"), col("th")).as("ta")
        val tb = toks.select(col("id"), col("th")).as("tb")
        pairs.join(ta, col("a") === col("ta.id")).join(tb, col("b") === col("tb.id"))
          .select(col("a"), col("b"), Dedup.jaccardHashed(col("ta.th"), col("tb.th")).as("jacc"))
          .filter(col("jacc") >= JaccMin).select("a", "b")
      }
      case "dedup_ngram" => tr.call("Dedup.ngramJaccardPairs", "ops")(
        Dedup.ngramJaccardPairs(tokens(read(ctx, docsPath(ctx))), ShingleN, NgramTau).select("a", "b"))
      case "dedup_simhash" => tr.call("Dedup.simhashSignatures", "ops")(
        Dedup.simhashSignatures(tokens(read(ctx, docsPath(ctx)))))
      case "ann_ivf" => tr.call("Ann.ivfTopK", "ops")(
        Ann.ivfTopK(quantized(ctx.input("queries")), quantized(read(ctx, embPath(ctx))), K,
          centroids, nprobe = Nlist).select("query_id", "neighbor_id", "rnk"))
      case "ann_ivfpq" => tr.call("Ann.ivfPqTopK", "ops")(
        Ann.ivfPqTopK(quantized(ctx.input("queries")), quantized(read(ctx, embPath(ctx))), K,
          centroids, Nlist, books, rerank = 100000).select("query_id", "neighbor_id", "rnk"))
      case "vector_search" => tr.call("VectorIndex.search", "engine.index")(
        VectorIndex.search(GraftTable.at(ctx.spark, embPath(ctx)), "embedding",
          quantized(ctx.input("queries")), K, nprobe = Nlist, rerank = 1000000)
          .select("query_id", "neighbor_id", "rnk"))
      case "decontaminate" => tr.call("Decontaminate.flagContaminated", "ops") {
        val docs = read(ctx, docsPath(ctx))
        val bench = docs.filter(col("doc_id") % 23 === 0)
          .select(col("doc_id").as("bench_id"), col("text"))
        Decontaminate.flagContaminated(docs, "doc_id", "text", bench, "bench_id", "text",
          n = ShingleN, minOverlap = 2)
      }
    }
  }

  private var docCount = 0L
  private def inputRows(op: String): Double = op match {
    case "ann_ivf" | "ann_ivfpq" | "vector_search" => Data.Embeddings + Data.Queries
    case _ => docCount.toDouble
  }

  /** Largest join output in the op's own executed plan ÷ result rows. */
  private def candidatesPerResult(df: DataFrame, results: Int): Double = {
    val joins = Plans.nodes(df.queryExecution.executedPlan).collect { case j: BaseJoinExec => j }
    val maxOut = joins.flatMap(_.metrics.get("numOutputRows").map(_.value)).maxOption.getOrElse(0L)
    maxOut.toDouble / math.max(1, results)
  }

  // ---- references, computed on the driver from the inputs ----

  /** Whitespace tokens of the lower-cased, trimmed text. */
  private def toks(text: String): IndexedSeq[String] = text.trim.toLowerCase.split(" ", -1).toIndexedSeq
  private def grams(ts: IndexedSeq[String]): Set[String] =
    if (ts.size < ShingleN) Set.empty else ts.sliding(ShingleN).map(_.mkString(" ")).toSet

  /** Pairs (a < b) of sets with Jaccard at least `tau`, via an inverted index. */
  private def jaccardPairs(sets: Map[Long, Set[String]], tau: Double): Set[(Long, Long)] = {
    val inter = scala.collection.mutable.Map.empty[(Long, Long), Int].withDefaultValue(0)
    sets.toSeq.flatMap { case (id, gs) => gs.map(_ -> id) }.groupBy(_._1).values.foreach { xs =>
      val ids = xs.map(_._2).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) inter((ids(i), ids(j))) += 1
    }
    inter.toSeq.collect { case ((a, b), k) if k.toDouble / (sets(a).size + sets(b).size - k) >= tau => (a, b) }.toSet
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refTopK(ctx: Ctx): Set[(Long, Long, Int)] = {
    def vectors(name: String) = ctx.input(name).collect().map { r =>
      r.getLong(0) -> r.getSeq[Float](1).map(x => math.floor(x.toDouble * 10000).toLong).toArray
    }
    val corpus = vectors("embeddings")
    def dot(a: Array[Long], b: Array[Long]) = a.indices.map(i => a(i) * b(i)).sum
    vectors("queries").flatMap { case (qid, q) =>
      corpus.filter(_._1 != qid)
        .map { case (cid, c) => (cid, dot(q, c).toDouble / math.sqrt(dot(q, q).toDouble * dot(c, c).toDouble)) }
        .sortBy { case (cid, cos) => (-cos, cid) }.take(K).zipWithIndex
        .map { case ((cid, _), i) => (qid, cid, i + 1) }
    }.toSet
  }

  private def pairs(rows: Array[Row]): Set[(Long, Long)] = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
  private def topk(rows: Array[Row]): Set[(Long, Long, Int)] =
    rows.map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)).toSet

  /** The references, computed untimed before the loop: every call of
    * an op must agree with them. Returns the check of one call. */
  def references(ctx: Ctx): (String, Array[Row]) => Option[String] = {
    val docs = ctx.input("pdocs").select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tokens = docs.map { case (id, t) => id -> toks(t) }.filter(_._2.size >= ShingleN)
    docCount = tokens.size.toLong
    val exact = docs.toSeq.groupBy { case (_, t) => md5Hex(t.trim.toLowerCase) }
      .collect { case (h, xs) if xs.size > 1 =>
        Row(h, xs.size.toLong, xs.map(_._1).min, xs.map(_._1).max) }.toArray
    val exactSum = Checksum.of(exact)
    val tokenSets = tokens.map { case (id, ts) => id -> ts.toSet }
    val gramSets = tokens.map { case (id, ts) => id -> grams(ts) }
    val ngramPairs = jaccardPairs(gramSets, NgramTau)
    val top = refTopK(ctx)
    val bench = gramSets.filter { case (id, _) => id % 23 == 0 }
    val contaminated = gramSets.flatMap { case (id, gs) =>
      val overlap = bench.values.map(b => (gs intersect b).size).maxOption.getOrElse(0)
      if (overlap >= 2) Some(id -> overlap.toLong) else None
    }.toSet
    val simhash = new java.util.concurrent.atomic.AtomicReference[(Long, Long)](null)

    def check(op: String, rows: Array[Row]): Option[String] = op match {
      case "dedup_exact" =>
        val got = Checksum.of(rows)
        if (got == exactSum) None else Some(s"groups $got, reference $exactSum")
      case "dedup_minhash" =>
        def jacc(a: Long, b: Long) = {
          val i = (tokenSets(a) intersect tokenSets(b)).size.toDouble
          i / (tokenSets(a).size + tokenSets(b).size - i)
        }
        val invented = pairs(rows).filter { case (a, b) => jacc(a, b) < JaccMin }
        if (invented.isEmpty && rows.nonEmpty) None
        else Some(s"${rows.length} pairs, ${invented.size} below Jaccard $JaccMin")
      case "dedup_ngram" =>
        val got = pairs(rows)
        if (got == ngramPairs) None
        else Some(s"${got.size} pairs, reference ${ngramPairs.size}: extra ${(got -- ngramPairs).take(3)}, " +
          s"missing ${(ngramPairs -- got).take(3)}")
      case "dedup_simhash" =>
        val got = Checksum.of(rows)
        simhash.compareAndSet(null, got)
        if (got == simhash.get && rows.length == docCount) None
        else Some(s"${rows.length} fingerprints of $docCount documents, checksum $got vs first call ${simhash.get}")
      case "ann_ivf" | "ann_ivfpq" | "vector_search" =>
        val got = topk(rows)
        if (got == top) None else Some(s"${(got diff top).size} of ${top.size} neighbours differ from brute force")
      case "decontaminate" =>
        val got = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
        if (got == contaminated) None else Some(s"${got.size} flagged, reference ${contaminated.size}")
    }
    check
  }

  /** One timed call of operator `op`. */
  def opOnce(ctx: Ctx, op: String, check: (String, Array[Row]) => Option[String]): Unit =
    ctx.op(op, "pipeline") {
      val df = call(ctx, op)
      (df, ctx.tr.call("Dataset.collect", "spark.execution")(df.collect()))
    } { case (df, rows) =>
      val facts = Map("input_rows" -> inputRows(op),
        "cand_ratio" -> candidatesPerResult(df, rows.length))
      val r = check(op, rows)
      (() => r, facts)
    }
}
