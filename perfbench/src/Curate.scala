package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.CurationPipeline
import graft.functions.Spread
import graft.operators.ConnectedComponents
import graft.queries.TextQueries
import graft.text.{Dedup, TextFns}

/** `curate`: batch runs of `CurationPipeline.runArc` over a generated
  * corpus with fixed exact- and near-duplicate shares, written as one
  * single-row-group parquet file (the layout `Spread.across` gates on).
  * Each arc also writes its curated corpus partitioned by shard plus the
  * manifest, as the front door does with an output directory. */
final class Curate(ctx: Ctx) extends Workload {
  val aliases = Map("throughput_per_s" -> "docs_per_s",
    "latency_p50_s" -> "arc_p50_s", "latency_tail_s" -> "arc_tail_s")
  import ctx.spark
  import Curate._

  private var corpusDir: String = _
  private var outDir: String = _
  private val arcS = mutable.ArrayBuffer[Double]()
  private val counts = mutable.ArrayBuffer[Seq[(String, Long)]]()
  private val nArcs = math.max(2, math.round(ctx.seconds / ArcNominalS).toInt)

  private def writeCorpus(seed: Long, docs: Int): String = {
    val dir = ctx.freshDir("corpus")
    Gen.frame(spark, Gen.corpus(seed, Gen.CorpusShape(docs)), Gen.documentsSchema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  def setup(): Unit = {
    corpusDir = writeCorpus(ctx.seed, Docs)
    outDir = ctx.freshDir("curated")
  }

  /** One arc; returns whether its batch invariants hold. */
  private def arc(corpus: String, out: String): Boolean = {
    val (manifest, curated, cs, shardSize, release) =
      CurationPipeline.runArc(spark.read.parquet(corpus))
    try {
      curated.write.mode("overwrite").partitionBy("shard").parquet(s"$out/shards")
      manifest.coalesce(1).write.mode("overwrite").parquet(s"$out/manifest")
      val m = spark.read.parquet(s"$out/manifest").collect()
        .sortBy(_.getAs[Long]("shard"))
      if (ctx.measuring) counts += cs
      invariants(cs.toMap, m, shardSize)
    } finally release()
  }

  /** CurationPipeline's batch invariants: monotone containment, the
    * manifest accounts for exactly the train docs, full shards except the
    * last, and pos ranges tiling [1, train]. */
  private def invariants(c: Map[String, Long], m: Array[Row], shardSize: Int)
      : Boolean = {
    val nTrain = c("train")
    val ranges = m.map(r => (r.getAs[Long]("pos_lo"), r.getAs[Long]("pos_hi")))
    c("documents") >= c("exact_kept") && c("exact_kept") >= c("cluster_kept") &&
      c("cluster_kept") >= c("mixed_kept") && c("mixed_kept") >= nTrain &&
      m.map(_.getAs[Long]("n_docs")).sum == nTrain &&
      m.dropRight(1).forall(_.getAs[Long]("n_docs") == shardSize.toLong) &&
      ranges.headOption.forall(_._1 == 1L) &&
      ranges.lastOption.forall(_._2 == nTrain) &&
      ranges.sliding(2).filter(_.length == 2).forall(w => w(0)._2 + 1 == w(1)._1)
  }

  def warmUp(): Unit = {
    val small = writeCorpus(ctx.seed ^ 0x5eedL, WarmDocs)
    ctx.op("curate.arc")(arc(small, ctx.freshDir("curated-warm")))
  }

  def measure(): Map[String, Double] = {
    (1 to nArcs).foreach(_ => ctx.op("curate.arc")(arc(corpusDir, outDir))
      .foreach(arcS += _))
    ctx.report += Main.samples("arcs", arcS.size)
    Map("throughput_per_s" -> Docs * arcS.size / arcS.sum,
      "latency_p50_s" -> Main.median(arcS.toSeq),
      "latency_tail_s" -> Main.tail(arcS.toSeq))
  }

  def storeBytes(): Long = Main.dirBytes(Paths.get(outDir))

  def check(): Unit = {
    val c = counts.headOption.map(_.toMap).getOrElse(Map.empty)
    println("[perfbench] curate stage counts: " + counts.headOption.getOrElse(Nil)
      .map { case (k, v) => s"$k=$v" }.mkString(" "))
    ctx.check("curate input: documents > exact_kept > cluster_kept > " +
        "mixed_kept >= train > 0")(
      c("documents") > c("exact_kept") && c("exact_kept") > c("cluster_kept") &&
        c("cluster_kept") > c("mixed_kept") && c("mixed_kept") >= c("train") &&
        c("train") > 0)
    ctx.check("curate: stage counts identical across arcs")(
      counts.size == nArcs && counts.forall(_ == counts.head))
  }

  /** The engine functions the arc calls, each called and materialized
    * alone on the same corpus, with its input cached beforehand. runArc
    * composes them with glue of its own (the exact keeper semi-join, the
    * cluster-canonical filter, the train split) that no public function
    * exposes; the harness rebuilds those inputs untimed and checks that
    * each matches runArc's stage count, so a change to runArc's glue fails
    * the traced run instead of silently timing a stale copy. */
  def layers(): Map[String, Double] = {
    val cached = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { cached += df.persist(); ctx.run(df); df }
    def stage(name: String)(df: => DataFrame): (Double, DataFrame) = {
      var out: DataFrame = null
      val s = ctx.timed(ctx.tracer.span(name) {
        out = df.persist(); cached += out; ctx.run(out)
      })
      (s, out)
    }
    val arcCounts = counts.headOption.map(_.toMap).getOrElse(Map.empty)
    def sameAs(stage: String, df: DataFrame): Unit =
      ctx.check(s"curate layers: input rebuilt for $stage matches runArc")(
        arcCounts.get(stage).contains(df.count()))
    try {
      val docs = keep(spark.read.parquet(corpusDir))
      // text.exact_keep: the fingerprint group-by runArc's exact keep runs
      val (exactS, groups) = stage("text.exact_keep")(Dedup.exactDupGroups(docs))
      ctx.check("curate layers: exact-dup groups account for exact_kept")(
        arcCounts.get("exact_kept").contains(docs.count() -
          groups.agg(coalesce(sum(col("n_members") - 1), lit(0L))).head().getLong(0)))
      val exactKept = keep(docs.join(docs
        .select(col("doc_id"), TextFns.fingerprintMd5(col("text")).as("fp"))
        .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id"),
        Seq("doc_id"), "left_semi"))
      sameAs("exact_kept", exactKept)
      val (pairsS, pairs) = stage("text.ngram_pairs")(
        Dedup.ngramJaccardPairs(exactKept, maxDF = 50, minJaccard = 0.8))
      val (ccS, labels) = stage("operators.cc")(
        ConnectedComponents.run(pairs).withColumnRenamed("node", "doc_id"))
      val keptIds = keep(exactKept.select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .filter(col("label").isNull || col("doc_id") === col("label")))
      sameAs("cluster_kept", keptIds)
      val kept = keep(docs.join(keptIds.select("doc_id"), Seq("doc_id"), "left_semi"))
      val (ensS, tiers) = stage("text.ensemble")(TextQueries.ensembleTiers(kept))
      var release: () => Unit = () => ()
      val (mixS, mixed) = stage("text.mix") {
        val (m, r) = TextQueries.tierMixManaged(tiers)
        release = r
        m
      }
      sameAs("mixed_kept", mixed)
      val train = keep(mixed.join(keptIds, "doc_id")
        .withColumn("split_key", coalesce(col("label"), col("doc_id")))
        .filter(TextFns.splitAssign(col("split_key")) === "train")
        .select("doc_id", "n_tok"))
      sameAs("train", train)
      val nTrain = train.count()
      val (shardS, _) = stage("operators.shard")(TextQueries.manifestOf(
        TextQueries.shardAssignments(train, TextQueries.derivedShardSize(nTrain))))
      release()
      val candidates = Dedup.ngramJaccardPairs(exactKept, maxDF = 50,
        minJaccard = 0.0).count()
      Map(
        "text.exact_keep_s" -> exactS, "text.ngram_pairs_s" -> pairsS,
        "operators.cc_s" -> ccS, "text.ensemble_s" -> ensS,
        "text.mix_s" -> mixS, "operators.shard_s" -> shardS,
        "text.candidate_pairs" -> candidates.toDouble,
        "text.pairs_kept_ratio" -> pairs.count().toDouble / candidates.max(1L),
        "functions.spread_partitions" ->
          Spread.across(spark.read.parquet(corpusDir)).rdd.getNumPartitions
            .toDouble) ++
        ctx.engine.totals(ctx.tracer.spans.toSeq, _ == "curate.arc")
    } finally cached.foreach(_.unpersist())
  }
}

object Curate {
  val Docs = 1000
  val WarmDocs = 150
  /** Arc count = seconds / this (fixed work per seed, see Ingest), at
    * least two: the measured arc time at 1000 docs on a 4-core host. */
  val ArcNominalS = 8.7
}
