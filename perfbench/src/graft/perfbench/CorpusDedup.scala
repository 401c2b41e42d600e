package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/**
 * corpus_dedup: operators.Dedup over a seeded near-duplicate corpus. The
 * full-corpus pass is minhashLsh + dropClusterDuplicates (connected
 * components); the online loop probes each new batch against a stored
 * index (dedupBatchAgainstIndex) built once by writeDedupIndex, then adds
 * the accepted rows with appendToDedupIndex. No spatial code runs here.
 */
object CorpusDedup {

  /** Near-duplicate share: each document is, with this probability, a
    * copy of an earlier original with 1 to 3 word substitutions. */
  val NearDupShare = 0.3

  // the word list of the synthetic testdata `documents` table
  private val Vocab = ("key agg row scan slow fast table value part hash merge " +
    "batch a the line sort window spark order data column join small customer " +
    "query big stream group filter vector index shuffle plan stage task cache " +
    "page block file").split(" ")

  /** Per-document RNG: (seed, id) mixed through SplitMix64, so the streams
    * of neighbouring ids are unrelated. */
  private def rng(seed: Long, id: Long) = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new scala.util.Random(z ^ (z >>> 31))
  }

  private def isDup(seed: Long, id: Long): Boolean =
    id > 0 && rng(seed, id).nextDouble() < NearDupShare

  private def original(seed: Long, id: Long): Array[String] = {
    val r = rng(seed ^ 0x7E47L, id)
    Array.fill(30 + r.nextInt(41))(Vocab(r.nextInt(Vocab.length)))
  }

  /** Text of document `id`: pure function of (seed, id). */
  def text(seed: Long, id: Long): String =
    if (!isDup(seed, id)) original(seed, id).mkString(" ")
    else {
      val r = rng(seed ^ 0xD0BL, id)
      var src = (r.nextLong() & Long.MaxValue) % id
      while (isDup(seed, src)) src = (r.nextLong() & Long.MaxValue) % math.max(1L, src)
      val words = original(seed, src)
      (0 to r.nextInt(3)).foreach(_ => words(r.nextInt(words.length)) = Vocab(r.nextInt(Vocab.length)))
      words.mkString(" ")
    }

  def docs(spark: SparkSession, from: Long, until: Long, seed: Long): DataFrame =
    spark.createDataFrame((from until until).map(id => (id, text(seed, id))))
      .toDF("doc_id", "text")

  def run(ctx: Ctx): Outcome = {
    val a = ctx.args
    val (nCorpus, nBatch) = if (a.smoke) (400L, 40L) else (2000L, 100L)
    val corpusPath = ctx.dir("corpus")
    val idx = ctx.dir("dedup_index")
    // caps off (maxBucket = 0) everywhere: the index probe and the
    // recompute path are then decision-identical, which the check relies on
    ctx.stage(3) { _ =>
      docs(ctx.spark, 0, nCorpus, a.seed).write.mode("overwrite").parquet(corpusPath)
      Dedup.writeDedupIndex(ctx.spark.read.parquet(corpusPath), idx, maxBucket = 0)
    }
    val corpus = ctx.spark.read.parquet(corpusPath)

    def fullPass(): Long =
      if (!ctx.tracer.enabled)
        Dedup.dropClusterDuplicates(corpus, Dedup.minhashLsh(corpus)).count()
      else {
        // traced: pairs materialised first so the two layers time apart
        val pairs = ctx.tracer.span("Dedup.minhashLsh") {
          val p = Dedup.minhashLsh(corpus).cache(); p.count(); p
        }
        try ctx.tracer.span("Dedup.dropClusterDuplicates") {
          Dedup.dropClusterDuplicates(corpus, pairs).count()
        } finally pairs.unpersist()
      }
    var kept = 0L
    ctx.warmup { kept = fullPass() }
    ctx.check("corpus_dedup.drops_duplicates", kept < nCorpus && kept > nCorpus / 2,
      s"kept $kept of $nCorpus")
    ctx.measure(a.seconds / 2, min = 2)(_ => ctx.op("corpus")(fullPass()))

    // online loop: batches of fresh ids after the corpus. The first batch
    // is the check batch: its index-probe kept set must equal the full
    // recompute against the staged corpus (the index held exactly that
    // corpus when the batch was probed)
    val probeS = ArrayBuffer.empty[Double]
    var next = nCorpus
    var firstKept: Set[Long] = null
    ctx.measure(a.seconds / 2) { i =>
      val b = docs(ctx.spark, next, next + nBatch, a.seed).cache()
      next += nBatch
      ctx.op("batch") {
        val t0 = System.nanoTime()
        val keep = ctx.tracer.span("Dedup.dedupBatchAgainstIndex") {
          val k = Dedup.dedupBatchAgainstIndex(b, idx, maxBucket = 0).cache()
          k.count()
          k
        }
        probeS += (System.nanoTime() - t0) / 1e9
        if (i == 0) firstKept = keep.select("doc_id").collect().map(_.getLong(0)).toSet
        try ctx.tracer.span("Dedup.appendToDedupIndex")(Dedup.appendToDedupIndex(keep, idx))
        finally keep.unpersist()
      }
      if (i == 0) {
        val recompKept = Dedup.dedupBatchAgainstCorpus(corpus, b, maxBucket = 0)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        ctx.check("corpus_dedup.probe_equals_recompute", firstKept == recompKept,
          s"probe=${firstKept.size} recompute=${recompKept.size}")
        ctx.check("corpus_dedup.batch_has_duplicates", firstKept.size < nBatch,
          s"kept ${firstKept.size} of $nBatch")
      }
      b.unpersist()
    }

    val corpusMed = Stats.median(ctx.times("corpus"))
    val batchMed = Stats.median(ctx.times("batch"))
    val layers = if (!a.trace) Nil else {
      // candidate vs verified cross pairs of one batch, and index pruning
      val b = docs(ctx.spark, next, next + nBatch, a.seed)
      val cand = Dedup.indexProbeCandidates(b, idx, maxBucket = 0)
      // collect, not count: count would plan a different query, and the
      // scan metrics read below belong to this one
      val nCand = cand.collect().length.toLong
      val sha = col("_sha"); val shb = col("_shb")
      val nVer = cand.where(size(array_intersect(sha, shb)) >=
        lit(0.5) * size(array_union(sha, shb))).count()
      val (read, held) = SparkProbe.filesRead(cand.queryExecution)
      val ccC = ctx.counters("Dedup.dropClusterDuplicates")
      val prC = ctx.counters("Dedup.dedupBatchAgainstIndex")
      Seq(("Dedup.minhashLsh_s", ctx.spanMs("Dedup.minhashLsh") / 1e3, "s"),
        ("Dedup.cc_s", ctx.spanMs("Dedup.dropClusterDuplicates") / 1e3, "s"),
        ("Dedup.cc_jobs", ccC.jobs, "count"),
        ("Dedup.verified_per_candidate", nVer.toDouble / math.max(1L, nCand), "ratio"),
        ("Dedup.probe_s", ctx.spanMs("Dedup.dedupBatchAgainstIndex") / 1e3, "s"),
        ("Dedup.probe_jobs", prC.jobs, "count"),
        ("Dedup.index_files_pruned_ratio", 1 - read.toDouble / math.max(1L, held), "ratio"),
        ("Dedup.append_s", ctx.spanMs("Dedup.appendToDedupIndex") / 1e3, "s")) ++
        // overhead over the batches: a traced corpus pass caches its pairs
        ctx.sparkLayer() ++ ctx.traceLayer(Set("batch"))
    }
    Outcome(nCorpus / corpusMed,
      Seq(("dedup_docs_per_s", nCorpus / corpusMed, "docs/s"),
        ("incr_batch_p50_s", batchMed, "s"),
        ("incr_probe_p50_s", Stats.median(probeS.toSeq), "s"),
        ("corpus_samples", ctx.times("corpus").size, "count"),
        ("batch_samples", ctx.times("batch").size, "count"),
        ("level_n", ctx.nproc, "threads"), ("corpus_docs", nCorpus, "docs"),
        ("batch_docs", nBatch, "docs"), ("near_dup_share", NearDupShare, "ratio")),
      layers)
  }
}
