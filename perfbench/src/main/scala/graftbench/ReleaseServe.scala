package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructType}

import graft.GraftEngine
import graft.core.Canonical
import graft.text.{MinHashConfig, MinHashDedup, SubstringDedup}
import graft.vector.{Ivf, Pq}

/** One cycle is a v2 curation release followed by a vector index
  * build, streamed ingest rounds with single-query serves, and a
  * compaction:
  *
  *  1. release: `SubstringDedup.cleanCorpus` → `MinHashDedup.signatures`
  *     + `writeBandedIndex` over the cleaned corpus ∪ benchmark →
  *     `GraftEngine.curateCorpusV2(hashWindowKeys = true)` →
  *     `TrainingSet.writeBinnedChunks` + the manifest write (what
  *     `curateAndWriteV2` does), over a block-diagonal 4× replica of the
  *     fixture's documents;
  *  2. `GraftEngine.buildResidualPqIndex` and `buildIvfIndex` over the
  *     base embeddings;
  *  3. one untimed warm-up serve, then per round: land one seeded parquet
  *     file of new vectors, ingest it with `StreamOps.vectorIngestStream`
  *     + `processAllAvailable`, then serve single-query `Pq.ivfAdcServe`
  *     requests over
  *     `Pq.codesWithDeltas` and base ∪ ingested raw vectors;
  *  4. `Pq.compactCodes` + `Ivf.compactIndex`, then one more serve.
  *
  * Operations: the four release steps, the build, each ingest batch,
  * each serve and the compaction. Requests (the latency metrics) are
  * the serves.
  */
object ReleaseServe {
  val factor = 4
  val benchmarkDocs = 25L
  val rounds = 2
  val servesPerRound = 4
  val perRound = 64
  val k = 5
  val nProbe = 4
  val dsub = 8
  // residual PQ build arguments: 16 lists, 2 Lloyd rounds, m = 8,
  // ks = 16, 2 codebook rounds
  val nLists = 16
  val kmeansIters = 2
  val pqM = 8
  val pqKs = 16
  val pqIters = 2

  private val vectorSchema = new StructType()
    .add("vec_id", LongType).add("embedding", ArrayType(FloatType))

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val tr = ctx.tracer
    val spark = ctx.spark

    // set-up: copy nine tables, write the replica documents and the
    // ingest batches, register, count the documents (the warm-up)
    var eng: GraftEngine = null
    var ingest: Seq[Path] = Nil
    var base = IndexedSeq.empty[Array[Float]]
    (1 to 3).foreach { i =>
      tr.span("setup") {
        val dir = ctx.dir(s"gen$i")
        Inputs.copyTables(ctx.fixture, dir, Inputs.tables.filterNot(_ == "documents"))
        val fixtureDocs = spark.read.parquet(ctx.fixture.resolve("documents.parquet").toString)
        Inputs.replicaDocuments(fixtureDocs, factor, ctx.seed)
          .write.parquet(dir.resolve("documents.parquet").toString)
        base = spark.read.parquet(ctx.fixture.resolve("embeddings.parquet").toString)
          .orderBy("vec_id").select("embedding").collect()
          .map(_.getSeq[Float](0).toArray).toIndexedSeq
        ingest = Inputs.ingestBatches(spark, base, dir.resolve("ingest"), rounds, perRound, ctx.seed)
        eng = tr.span("sources.register")(GraftEngine(spark, dir.toString))
        eng.tables.documents.count()
      }
    }

    val qrnd = new Random(ctx.seed ^ 0x9e3779b9L)
    var nextQuery = 0L
    def query(): DataFrame = {
      nextQuery += 1
      val v = Inputs.perturbed(base, 1, qrnd).head
      spark.createDataFrame(Seq((-nextQuery, v))).toDF("query_id", "qvec")
    }

    val serveMs = mutable.ArrayBuffer[Double]()
    val deltaDirs = mutable.ArrayBuffer[Double]()
    val cycleMs = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var cycles = 0
    do {
      val work = ctx.dir(s"cycle$cycles")
      var timedMs = 0.0
      def step[T](name: String, op: String = "")(body: => T): T = {
        out.attempted += 1
        val t = System.nanoTime()
        try tr.span(name, op)(body)
        finally timedMs += (System.nanoTime() - t) / 1e6
      }

      val docs = eng.tables.documents
      val bench = docs.filter(col("doc_id") < benchmarkDocs).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") >= benchmarkDocs).select("doc_id", "text", "lang")
      val cfg = MinHashConfig()
      tr.span("release") {
        step("text.clean") {
          SubstringDedup.cleanCorpus(corpus, 10, hashKeys = true)
            .write.parquet(work.resolve("cleaned").toString)
        }
        val cleaned = spark.read.parquet(work.resolve("cleaned").toString)
        val banded = step("text.index") {
          val corClean = SubstringDedup.withCleanText(corpus, cleaned)
          MinHashDedup.writeBandedIndex(
            MinHashDedup.signatures(corClean.select("doc_id", "text").unionByName(bench), cfg),
            work.resolve("banded").toString, cfg)
          MinHashDedup.readBandedIndex(spark, work.resolve("banded").toString, cfg)
        }
        val cur = step("pipeline.curate")(
          eng.curateCorpusV2(corpus, bench, banded, hashWindowKeys = true))
        step("pipeline.write") {
          graft.pipeline.TrainingSet.writeBinnedChunks(
            cur.result, work.resolve("release/batches").toString)
          cur.manifest.write.parquet(work.resolve("release/manifest").toString)
        }
      }

      val pq = work.resolve("pq").toString
      val ivf = work.resolve("ivf").toString
      step("vector.build") {
        if (tr.enabled) {
          // the facade's composition, split into its two phases
          val emb = eng.tables.embeddings
          val dim = emb.select(size(col("embedding"))).first().getInt(0)
          val cents = tr.span("vector.build.kmeans")(
            Ivf.refineCentroidsL2(emb, Ivf.centroids(emb, nLists), kmeansIters, dim))
          tr.span("vector.build.encode_write")(
            Pq.writeResidualIndex(emb, cents, pq, pqM, pqKs, pqIters, dim))
        } else eng.buildResidualPqIndex(pq, nLists, kmeansIters, pqM, pqKs, pqIters)
        tr.span("vector.build.ivf")(eng.buildIvfIndex(ivf))
      }

      val src = Files.createDirectories(work.resolve("src"))
      val codebook = spark.read.parquet(s"$pq/codebook")
      val cents = spark.read.parquet(s"$pq/cents")
      // base ∪ landed raw vectors, listed afresh at each request
      def raw = eng.tables.embeddings.select("vec_id", "embedding")
        .unionByName(spark.read.schema(vectorSchema).parquet(src.toString))
      def serve(q: DataFrame): DataFrame =
        Pq.ivfAdcServe(Pq.codesWithDeltas(spark, pq), codebook, cents, q, raw, k, nProbe, dsub)
      def timedServe(name: String): Unit = {
        val q = query()
        deltaDirs += Option(new java.io.File(s"$pq/codes_delta").listFiles())
          .map(_.count(_.isDirectory)).getOrElse(0).toDouble
        val t = System.nanoTime()
        val rows = step(name)(serve(q).collect())
        serveMs += (System.nanoTime() - t) / 1e6
        out.check(rows.length == k, s"$name returned ${rows.length} rows, want $k")
      }

      val stream = spark.readStream.schema(vectorSchema)
        .option("maxFilesPerTrigger", 1).parquet(src.toString)
      val ingestQuery = step("streaming.start")(graft.streaming.StreamOps.vectorIngestStream(
        stream, ivf, work.resolve("ckpt").toString, pqPath = Some(pq)))
      try {
        // the run's first serve compiles the serve path; keep it out of
        // the latency samples
        tr.span("vector.serve_warmup") {
          val rows = serve(query()).collect()
          out.check(rows.length == k, s"warm-up serve returned ${rows.length} rows, want $k")
        }
        ingest.zipWithIndex.foreach { case (file, r) =>
          step("streaming.batch", s"b$r") {
            val tmp = src.resolve(s".chunk$r.parquet")
            Files.copy(file, tmp)
            Files.move(tmp, src.resolve(s"chunk$r.parquet"), StandardCopyOption.ATOMIC_MOVE)
            ingestQuery.processAllAvailable()
          }
          (1 to servesPerRound).foreach(_ => timedServe("vector.serve"))
        }
      } finally ingestQuery.stop()

      // output check, untimed: serve over base ∪ deltas equals serve over
      // a batch encode of the same union; recall@k against exact L2
      val checkQ = query().unionByName(query())
      val streamed = serve(checkQ).collect()
      val union = raw
      val unionCodes = Pq.encode(Pq.residualVectors(union, cents), codebook, dsub)
      val batch = Pq.ivfAdcServe(unionCodes, codebook, cents, checkQ, union, k, nProbe, dsub).collect()
      out.check(sorted(streamed) == sorted(batch), s"serve over base+deltas ${sorted(streamed)} " +
        s"differs from serve over a batch-encoded union ${sorted(batch)}")
      val exact = Pq.exactL2TopK(union, checkQ, k).select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = streamed.count(r => exact.contains((r.getLong(0), r.getLong(1))))
      out.report(s"serve_recall_at_$k") = (hits.toDouble / exact.size, "ratio")

      step("vector.compact") {
        Pq.compactCodes(spark, pq)
        Ivf.compactIndex(spark, ivf)
      }
      timedServe("vector.serve_after_compact")

      cycleMs += timedMs
      cycles += 1
      checkRelease(out, spark.read.parquet(work.resolve("release/manifest").toString), corpus)
    } while ((System.nanoTime() - t0) / 1e9 < ctx.seconds)

    val setupS = Percentile(tr.named("setup").map(_.ms / 1e3), 50)
    out.e2e("setup_s") = (setupS, "s")
    out.e2e("cycle_s") = (Percentile(cycleMs.toSeq, 50) / 1e3, "s")
    out.e2e("request_p50_ms") = (Percentile(serveMs.toSeq, 50), "ms")
    out.e2e("request_p80_ms") = (Percentile(serveMs.toSeq, 80), "ms")
    val tailP = TailPercentile(serveMs.size)
    def medMs(name: String) = Percentile(tr.named(name).map(_.ms), 50)
    out.report("setup_s") = (setupS, "s")
    out.report("curation_s") = (medMs("release") / 1e3, "s")
    out.report("vector_build_s") = (medMs("vector.build") / 1e3, "s")
    out.report("ingest_batch_p50_ms") = (medMs("streaming.batch"), "ms")
    out.report("serve_p50_ms") = (Percentile(serveMs.toSeq, 50), "ms")
    out.report(s"serve_tail_ms (p$tailP)") = (Percentile(serveMs.toSeq, tailP), "ms")

    if (tr.enabled) {
      tr.settle()
      out.layer("sources.register_ms", medMs("sources.register"), "ms")
      Seq("text.clean", "text.index", "pipeline.curate", "pipeline.write")
        .foreach(out.spanLayers(tr, _))
      out.layer("vector.build.kmeans_ms", medMs("vector.build.kmeans"), "ms")
      out.layer("vector.build.encode_write_ms", medMs("vector.build.encode_write"), "ms")
      out.layer("streaming.batch_ms", medMs("streaming.batch"), "ms")
      out.layer("streaming.batch.jobs",
        tr.stats(tr.named("streaming.batch")).jobs.toDouble / tr.named("streaming.batch").size, "count")
      out.layer("vector.delta_dirs", Percentile(deltaDirs.toSeq, 50), "count")
      val serves = tr.named("vector.serve")
      val ss = tr.stats(serves)
      out.layer("vector.serve.jobs", ss.jobs.toDouble / serves.size, "count")
      out.layer("vector.serve.tasks", ss.tasks.toDouble / serves.size, "count")
      out.layer("vector.serve.rows_scanned_per_result", ss.inputRecords.toDouble / (serves.size * k), "ratio")
      out.layer("vector.compact_ms", medMs("vector.compact"), "ms")
      out.layer("vector.serve_after_compact_ms", medMs("vector.serve_after_compact"), "ms")
      val cycleSpans = Seq("release", "vector.build", "streaming.start", "streaming.batch",
        "vector.serve", "vector.compact", "vector.serve_after_compact").flatMap(tr.named)
      out.sparkLayers(tr, cycleSpans, out.attempted.toInt, cycles)
    }
    out
  }

  private def sorted(rows: Array[org.apache.spark.sql.Row]): Seq[String] =
    rows.map(Canonical.renderRow).toSeq.sorted

  /** The release covers every corpus document and keeps the
    * block-diagonal invariants: decontamination drops only in replica 0
    * (constant across factors); every full replica cuts the same stage-0
    * span mass and drops the same near-dups (affine in the factor); the
    * perplexity gate keeps exactly the head and middle tertiles of the
    * scored survivors.
    */
  private def checkRelease(out: Outcome, m: DataFrame, corpus: DataFrame): Unit = {
    val uncovered = corpus.select(col("doc_id").as("c")).join(m.select(col("doc_id").as("m")),
      col("c") === col("m"), "full_outer").filter(col("c").isNull || col("m").isNull).count()
    out.check(uncovered == 0, s"manifest and corpus differ in $uncovered doc ids")
    val perReplica = m
      .groupBy((col("doc_id") / Inputs.replicaStride).cast("int").as("r"))
      .agg(
        count(when(col("decon_verdict") === "drop", 1)).as("decon"),
        count(when(col("dedup_verdict") === "drop", 1)).as("dedup"),
        coalesce(sum("sub_dup_tokens"), lit(0L)).as("cut"),
        count(when(col("dedup_verdict") === "keep" && col("ppl_bucket").isNotNull, 1)).as("scored"),
        count(when(col("ppl_verdict") === "keep", 1)).as("ppl_keeps"))
      .orderBy("r").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val full = perReplica.filter(_._1 > 0)
    out.check(full.forall(_._2 == 0), s"decon drops outside replica 0: ${perReplica.mkString(" ")}")
    out.check(full.map(p => (p._3, p._4)).distinct.length == 1,
      s"full replicas differ in dedup drops or cut tokens: ${perReplica.mkString(" ")}")
    val scored = perReplica.map(_._5).sum
    val pplKeeps = perReplica.map(_._6).sum
    val want = (1L to scored).count(r => (r - 1) * 3 < 2 * scored).toLong
    out.check(pplKeeps == want, s"ppl keeps $pplKeeps, tertile formula gives $want of $scored")
    out.report("release_decon_drops") = (perReplica.map(_._2).sum.toDouble, "count")
    out.report("release_cut_tokens_per_full_replica") = (full.headOption.map(_._4.toDouble).getOrElse(0.0), "count")
  }
}
