package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{AnnStream, Replay, UniqueStreams}

/** Streaming continuous ANN retrieval vs the batch operator: for every
  * arriving vector, the streamed top-k must equal `Similarity.annTopK`
  * run on the PREFIX corpus (all earlier ids) with that vector as the
  * only query — same planes, same probes, same (sim DESC, corpus_id)
  * rank policy.
  */
class AnnStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val K = 3
  private val PLANES = 4
  private val DIM = 4

  private def at(deg: Double, zw: Boolean = false): Array[Float] = {
    val r = math.toRadians(deg)
    if (zw) Array(0f, 0f, math.cos(r).toFloat, math.sin(r).toFloat)
    else Array(math.cos(r).toFloat, math.sin(r).toFloat, 0f, 0f)
  }

  private val vecs = Seq(
    Vec(1, at(0)), Vec(2, at(20)), Vec(3, at(40)), Vec(4, at(75)),
    Vec(5, at(10, zw = true)), Vec(6, at(30, zw = true)), Vec(7, at(55, zw = true)),
    Vec(8, at(130)), Vec(9, at(15)), Vec(10, at(42, zw = true)))

  test("streamed top-k equals per-prefix batch annTopK for every arrival") {
    val streamed = UniqueStreams.withRocksDBStateStore(spark) {
      Replay.replay(spark, vecs.toDF(), "vec_id", 1, "append")(sdf =>
        AnnStream.annStream(sdf, "vec_id", "embedding",
          k = K, nPlanes = PLANES, dim = DIM))
        .select("query_id", "corpus_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    }
    val expected = vecs.flatMap { q =>
      val prefix = vecs.filter(_.vec_id < q.vec_id)
      if (prefix.isEmpty) Seq.empty
      else llm.Similarity.annTopK(prefix.toDF(), Seq(q).toDF(), "vec_id", "embedding",
          k = K, nPlanes = PLANES, dim = DIM, probeHamming = 1)
        .select("query_id", "corpus_id", "rank")
        .as[(Long, Long, Int)].collect().toSeq
    }.toSet
    assert(expected.nonEmpty, "fixture drift: no prefix neighbors found at all")
    assert(streamed === expected)
  }

  test("pqAnnStream: candidate sets match annStream; chunking-invariant; nulls skipped") {
    UniqueStreams.withRocksDBStateStore(spark) {
      val (cb, _) = llm.Similarity.anchorCodebook(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nSub = 2, codesPerSub = 4)
      def pqRun(chunk: Int) =
        Replay.replay(spark, vecs.toDF(), "vec_id", chunk, "append")(sdf =>
          AnnStream.pqAnnStream(sdf, "vec_id", "embedding", codebook = cb,
            codesPerSub = 4, k = 100, nPlanes = PLANES, dim = DIM))
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
      val pq1 = pqRun(1)
      // chunking invariance: micro-batch boundaries must not change the log
      assert(pq1 === pqRun(4))
      // with k far above the candidate count, both operators return exactly
      // the probe-bucket candidate set — same planes, same probes, same
      // earlier-arrivals restriction; only the RANKINGS may differ (ADC
      // vs exact cosine), so compare the (query, corpus) sets
      val exact = Replay.replay(spark, vecs.toDF(), "vec_id", 1, "append")(sdf =>
          AnnStream.annStream(sdf, "vec_id", "embedding",
            k = 100, nPlanes = PLANES, dim = DIM))
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSet
      assert(pq1.map(t => (t._1, t._2)) === exact)
      assert(exact.nonEmpty, "fixture drift: no candidates at all")
      // null vectors neither query nor index, like annStream
      val withNull = vecs.take(3) ++ Seq(Vec(4, null)) ++ Seq(Vec(5, at(5)))
      val logN = Replay.replay(spark, withNull.toDF(), "vec_id", 1, "append")(sdf =>
          AnnStream.pqAnnStream(sdf, "vec_id", "embedding", codebook = cb,
            codesPerSub = 4, k = 100, nPlanes = PLANES, dim = DIM))
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSeq
      assert(!logN.exists(_._1 == 4L) && !logN.exists(_._2 == 4L))
    }
  }

  test("ivfPqAnnStream: per-prefix batch ivfPqTopK equality; chunking-invariant; nulls skipped") {
    UniqueStreams.withRocksDBStateStore(spark) {
      val NCELLS = 4; val NPROBE = 2
      // anchors = the 4 lowest-id fixture rows, so every prefix of >= 4
      // rows derives the SAME anchors as the full set — the regime where
      // the batch operator run on the prefix is the exact model
      val cent = llm.Similarity.anchorCentroids(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nCells = NCELLS)
      val (cb, _) = llm.Similarity.anchorCodebook(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nSub = 2, codesPerSub = 4)
      def run(chunk: Int) =
        Replay.replay(spark, vecs.toDF(), "vec_id", chunk, "append")(sdf =>
          AnnStream.ivfPqAnnStream(sdf, "vec_id", "embedding", centroids = cent,
            codebook = cb, codesPerSub = 4, k = 100, nProbe = NPROBE, dim = DIM))
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
      val streamed = run(1)
      assert(streamed === run(3), "micro-batch boundaries changed the log")
      val minFullAnchorId = vecs.map(_.vec_id).sorted.apply(NCELLS - 1)
      val expected = vecs.filter(_.vec_id > minFullAnchorId).flatMap { q =>
        val prefix = vecs.filter(_.vec_id < q.vec_id)
        llm.Similarity.ivfPqTopK(prefix.toDF(), Seq(q).toDF(), "vec_id", "embedding",
            k = 100, nCells = NCELLS, nProbe = NPROBE, dim = DIM,
            nSub = 2, codesPerSub = 4)
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSeq
      }.toSet
      assert(expected.nonEmpty, "fixture drift: no prefix candidates at all")
      assert(streamed.filter(_._1 > minFullAnchorId) === expected)
      // null vectors neither query nor index
      val withNull = vecs.take(5) ++ Seq(Vec(6, null)) ++ Seq(Vec(7, at(5)))
      val logN = Replay.replay(spark, withNull.toDF(), "vec_id", 1, "append")(sdf =>
          AnnStream.ivfPqAnnStream(sdf, "vec_id", "embedding", centroids = cent,
            codebook = cb, codesPerSub = 4, k = 100, nProbe = NPROBE, dim = DIM))
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSeq
      assert(!logN.exists(_._1 == 6L) && !logN.exists(_._2 == 6L))
    }
  }

  test("ivfPqAnnStream residual: per-prefix batch ivfPqTopK(residual) equality; chunking-invariant") {
    UniqueStreams.withRocksDBStateStore(spark) {
      val NCELLS = 4; val NPROBE = 2; val CPS = 4
      // the residual model needs NCELLS + CPS = 8 anchor rows, so every
      // prefix of >= 8 rows derives the SAME model as the full set —
      // queries 9 and 10 are the exactly-modeled regime
      val model = llm.Similarity.residualPqModel(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nCells = NCELLS, nSub = 2, codesPerSub = CPS)
      val cent = model.cells.map { case (cell, c, _, _) => (cell, c) }
      def run(chunk: Int) =
        Replay.replay(spark, vecs.toDF(), "vec_id", chunk, "append")(sdf =>
          AnnStream.ivfPqAnnStream(sdf, "vec_id", "embedding", centroids = cent,
            codebook = model.codebook, codesPerSub = CPS, k = 100,
            nProbe = NPROBE, dim = DIM, residual = true))
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
      val streamed = run(1)
      assert(streamed === run(3), "micro-batch boundaries changed the log")
      val minFullModelId = vecs.map(_.vec_id).sorted.apply(NCELLS + CPS - 1)
      val expected = vecs.filter(_.vec_id > minFullModelId).flatMap { q =>
        val prefix = vecs.filter(_.vec_id < q.vec_id)
        llm.Similarity.ivfPqTopK(prefix.toDF(), Seq(q).toDF(), "vec_id", "embedding",
            k = 100, nCells = NCELLS, nProbe = NPROBE, dim = DIM,
            nSub = 2, codesPerSub = CPS, residual = true)
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSeq
      }.toSet
      assert(expected.nonEmpty, "fixture drift: no prefix candidates at all")
      assert(streamed.filter(_._1 > minFullModelId) === expected)
    }
  }

  test("sharded ivfPq bridge: sym-diff-0 vs the monolith, plain and residual") {
    UniqueStreams.withRocksDBStateStore(spark) {
      val NCELLS = 4; val NPROBE = 2; val CPS = 4
      val cent = llm.Similarity.anchorCentroids(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nCells = NCELLS)
      val (cb, _) = llm.Similarity.anchorCodebook(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nSub = 2, codesPerSub = CPS)
      val model = llm.Similarity.residualPqModel(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nCells = NCELLS, nSub = 2, codesPerSub = CPS)
      Seq(false, true).foreach { res =>
        val (ct, cbk) =
          if (res) (model.cells.map { case (c, v, _, _) => (c, v) }, model.codebook)
          else (cent, cb)
        val mono = Replay.replay(spark, vecs.toDF(), "vec_id", 3, "append")(sdf =>
            AnnStream.ivfPqAnnStream(sdf, "vec_id", "embedding", centroids = ct,
              codebook = cbk, codesPerSub = CPS, k = 3, nProbe = NPROBE,
              dim = DIM, residual = res))
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
        val hits = Replay.replay(spark, vecs.toDF(), "vec_id", 3, "append")(sdf =>
          AnnStream.shardedIvfPqCellHits(sdf, "vec_id", "embedding", centroids = ct,
            codebook = cbk, codesPerSub = CPS, k = 3, nProbe = NPROBE,
            dim = DIM, residual = res))
        // stage-B chunk of 3 rows with nProbe=2 rows per query: every
        // second query's cell results STRADDLE a micro-batch boundary,
        // exercising the cross-batch state accumulation path
        val sharded = Replay.replay(spark, hits, "query_id", 3, "append")(sdf =>
            AnnStream.annMergeStage(sdf, nProbe = NPROBE, k = 3))
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
        assert(mono.nonEmpty, s"fixture drift: monolith emitted nothing (residual=$res)")
        assert(sharded === mono, s"sharded bridge diverged from the monolith (residual=$res)")
      }
    }
  }

  test("bucket-sharded LSH bridge: sym-diff-0 vs the exact AND pq monoliths") {
    UniqueStreams.withRocksDBStateStore(spark) {
      val NPLANES = 3; val CPS = 4
      val (cb, _) = llm.Similarity.anchorCodebook(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nSub = 2, codesPerSub = CPS)
      Seq(None, Some((cb, CPS))).foreach { cbk =>
        val mono = Replay.replay(spark, vecs.toDF(), "vec_id", 3, "append")(sdf =>
            cbk match {
              case Some((c, cps)) => AnnStream.pqAnnStream(sdf, "vec_id",
                "embedding", codebook = c, codesPerSub = cps, k = 3,
                nPlanes = NPLANES, dim = DIM)
              case None => AnnStream.annStream(sdf, "vec_id", "embedding",
                k = 3, nPlanes = NPLANES, dim = DIM)
            })
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
        val hits = Replay.replay(spark, vecs.toDF(), "vec_id", 3, "append")(sdf =>
          AnnStream.shardedLshBucketHits(sdf, "vec_id", "embedding",
            codebook = cbk, k = 3, nPlanes = NPLANES, dim = DIM))
        // chunk 3 rows with nPlanes+1=4 probe reports per query: every
        // query's reports straddle micro-batch boundaries in stage B
        val sharded = Replay.replay(spark, hits, "query_id", 3, "append")(sdf =>
            AnnStream.annMergeStage(sdf, nProbe = NPLANES + 1, k = 3))
          .select("query_id", "corpus_id", "rank")
          .as[(Long, Long, Int)].collect().toSet
        assert(mono.nonEmpty, s"fixture drift: monolith emitted nothing (pq=${cbk.isDefined})")
        assert(sharded === mono,
          s"bucket-sharded bridge diverged from the monolith (pq=${cbk.isDefined})")
      }
    }
  }

  test("empty vector emits nothing and is not indexed") {
    val withNull = vecs.take(3) ++ Seq(Vec(4, null)) ++ Seq(Vec(5, at(5)))
    val streamed = UniqueStreams.withRocksDBStateStore(spark) {
      Replay.replay(spark, withNull.toDF(), "vec_id", 1, "append")(sdf =>
        AnnStream.annStream(sdf, "vec_id", "embedding",
          k = K, nPlanes = PLANES, dim = DIM))
        .select("query_id", "corpus_id").as[(Long, Long)].collect().toSeq
    }
    assert(!streamed.exists(_._1 == 4L), "null vector must not query")
    assert(!streamed.exists(_._2 == 4L), "null vector must not be retrieved")
  }

  test("zero-norm (all-zero, non-empty) query scores 0.0, never NaN/Inf, " +
      "in PQ mode — monolith and sharded bridge stay in parity") {
    // an all-zero vector passes the null/size filters but has qn == 0;
    // unguarded ADC division would emit NaN similarities no mirror can
    // match. Guarded: it scores every candidate 0.0 (rank by id) in BOTH
    // the monolith and the bucket-sharded bridge.
    val withZero = vecs.take(4) ++ Seq(Vec(5, Array(0f, 0f, 0f, 0f)))
    UniqueStreams.withRocksDBStateStore(spark) {
      val (cb, _) = llm.Similarity.anchorCodebook(vecs.toDF(), "vec_id", "embedding",
        dim = DIM, nSub = 2, codesPerSub = 4)
      val mono = Replay.replay(spark, withZero.toDF(), "vec_id", 1, "append")(sdf =>
          AnnStream.pqAnnStream(sdf, "vec_id", "embedding", codebook = cb,
            codesPerSub = 4, k = 100, nPlanes = PLANES, dim = DIM))
        .select("query_id", "corpus_id", "rank")
        .as[(Long, Long, Int)].collect()
      // guarded: every candidate of the zero-norm query scores exactly
      // 0.0, so the (sim DESC, corpus_id) rank order degenerates to
      // corpus_id ascending — deterministic, unlike NaN ordering
      val zq = mono.filter(_._1 == 5L).sortBy(_._3)
      assert(zq.nonEmpty, "zero-norm query must still retrieve (score 0.0)")
      assert(zq.map(_._2).toSeq == zq.map(_._2).sorted.toSeq,
        s"zero-norm query ranks must follow corpus_id asc, got ${zq.mkString(",")}")
      val hits = Replay.replay(spark, withZero.toDF(), "vec_id", 1, "append")(sdf =>
        AnnStream.shardedLshBucketHits(sdf, "vec_id", "embedding",
          codebook = Some((cb, 4)), k = 100, nPlanes = PLANES, dim = DIM))
      val sharded = Replay.replay(spark, hits, "query_id", 1, "append")(sdf =>
          AnnStream.annMergeStage(sdf, nProbe = PLANES + 1, k = 100))
        .select("query_id", "corpus_id", "rank")
        .as[(Long, Long, Int)].collect()
      assert(sharded.toSet === mono.toSet,
        "zero-norm guard broke monolith/shard parity")
    }
  }
}
