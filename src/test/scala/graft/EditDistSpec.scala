package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{NearDupStream, Replay, UniqueStreams}

/** Edit-distance (Levenshtein) near-dup tier: exact integer distances,
  * md5/xx family agreement, brute-force parity on a banding-friendly
  * fixture, and the streaming twin's batch convergence.
  */
class EditDistSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val base = "abcdefghijklmnopqrstuvwxyz0123456789"
  private def edit(s: String, at: Int, c: Char): String =
    s.updated(at, c)
  // known distances: d(1,2)=0 (copy), d(1,3)=d(2,3)=1, d(1,4)=d(2,4)=2
  // (the pos-30 edit is a no-op: base(30) is already '4'), d(3,4)=3,
  // d(*,5)=len (disjoint alphabet), 6/7 below the shingle floor
  private val docs = Seq(
    (1L, base),
    (2L, base),
    (3L, edit(base, 10, 'K')),
    (4L, edit(edit(edit(base, 20, 'U'), 25, 'Z'), 30, '4')),
    (5L, "!@#$%^&*()_+!@#$%^&*()_+!@#$%^&*()_+"),
    (6L, "ab"),
    (7L, "ab"))

  private def refLev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  test("editDistancePairs: exact integer distances; md5 and xx families " +
      "agree; brute-force parity on the fixture") {
    val df = docs.toDF("doc_id", "text")
    val maxDist = 3
    val got = llm.TextDedup.editDistancePairsMd5(df, "text", "doc_id",
        maxDist = maxDist, shingleN = 3, bands = 6, rowsPerBand = 1)
      .as[(Long, Long, Int)].collect().toSet
    // brute-force reference over docs at/above the shingle floor (< 3
    // chars never band — the documented blocking floor)
    val eligible = docs.filter(_._2.length >= 3)
    val expected = (for {
      (ia, ta) <- eligible; (ib, tb) <- eligible if ia < ib
      d = refLev(ta, tb) if d <= maxDist
    } yield (ia, ib, d)).toSet
    assert(expected === Set((1L, 2L, 0), (1L, 3L, 1), (1L, 4L, 2),
      (2L, 3L, 1), (2L, 4L, 2), (3L, 4L, 3)),
      s"fixture drift: reference distances changed: $expected")
    assert(got === expected,
      "banded md5 pairs diverged from brute-force lev on the fixture")
    val xx = llm.TextDedup.editDistancePairs(df, "text", "doc_id",
        maxDist = maxDist, shingleN = 3, bands = 6, rowsPerBand = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(xx === expected, "xx family diverged from the md5 family")
  }

  test("sub-shingle-floor docs never pair (even identical copies) — " +
      "the documented blocking floor") {
    val df = docs.toDF("doc_id", "text")
    val got = llm.TextDedup.editDistancePairsMd5(df, "text", "doc_id",
        maxDist = 0, shingleN = 3, bands = 6, rowsPerBand = 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got === Set((1L, 2L, 0)),
      s"expected only the full-length exact pair, got $got " +
        "(docs 6/7 are identical but below the 3-char shingle floor)")
  }

  test("editDecontaminate: drops train docs in the eval edit ball, " +
      "including intra-word edits token-Jaccard decontam provably misses") {
    // eval doc 100 leaked into train as doc 1 with one character edit
    // in EVERY word: the token sets are DISJOINT (unigram Jaccard = 0 —
    // fuzzyDecontaminate cannot flag it at ANY threshold > 0), but
    // lev = 3 and the char-shingle sets still overlap enough to band
    val evalTxt = "alphabet betatron gammaray"
    val trainTxt = "alphqbet betqtron gammqray"
    assert(refLev(evalTxt, trainTxt) === 3, "fixture drift")
    assert(evalTxt.split(' ').toSet.intersect(trainTxt.split(' ').toSet).isEmpty,
      "fixture drift: token sets must be disjoint")
    val train = Seq(
      (1L, trainTxt),
      (2L, "a completely unrelated training document about spark plans"),
      (3L, evalTxt) // verbatim leak: dist 0
    ).toDF("doc_id", "text")
    val eval = Seq((100L, evalTxt)).toDF("doc_id", "text")
    val survivors = llm.TextDedup.editDecontaminateMd5(train, eval,
        "doc_id", "text", maxDist = 3, shingleN = 3, bands = 6,
        rowsPerBand = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors === Set(2L),
      s"expected docs 1 (3 intra-word edits) and 3 (verbatim) dropped, got $survivors")
    // the same geometry through token-Jaccard (unigram shingles, any
    // threshold > 0): doc 1 SURVIVES — the gap this operator closes
    val fuzzy = llm.TextDedup.fuzzyDecontaminateMd5(train, eval, "doc_id",
        "text", shingleN = 1, bands = 6, rowsPerBand = 1, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(fuzzy.contains(1L),
      "fixture drift: token-Jaccard unexpectedly caught the intra-word leak")
    // xx/md5 family agreement on the cross relation
    val md5Pairs = llm.TextDedup.crossEditDistancePairsMd5(train, eval,
        "text", "doc_id", maxDist = 3, shingleN = 3, bands = 6,
        rowsPerBand = 1).as[(Long, Long, Int)].collect().toSet
    val xxPairs = llm.TextDedup.crossEditDistancePairs(train, eval,
        "text", "doc_id", maxDist = 3, shingleN = 3, bands = 6,
        rowsPerBand = 1).as[(Long, Long, Int)].collect().toSet
    assert(md5Pairs === Set((1L, 100L, 3), (3L, 100L, 0)))
    assert(xxPairs === md5Pairs, "xx family diverged from md5 family")
  }

  test("editShardedEdges two-stage: stage-A edges equal batch pairs, " +
      "stage-B survivors equal batch dedup") {
    val df = docs.toDF("doc_id", "text")
    val bp = llm.TextDedup.editDistancePairsMd5(df, "text", "doc_id",
        maxDist = 3, shingleN = 3, bands = 6, rowsPerBand = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    UniqueStreams.withRocksDBStateStore(spark) {
      val edges = Replay.replay(spark, df, "doc_id", 1, "append")(sdf =>
        NearDupStream.editShardedEdges(sdf, "doc_id", "text", maxDist = 3,
          shingleN = 3, bands = 6, rowsPerBand = 1, md5Family = true))
      val es = edges.select("a", "b").as[(Long, Long)].collect().toSet
      assert(es === bp, s"sharded edge set $es != batch pair set $bp")
      // stage B: doc markers before any edge touching the doc, then edges
      val feed = docs.map(d => (d._1, d._1, d._1 * 2)) ++
        es.toSeq.map { case (a, b) => (a, b, math.max(a, b) * 2 + 1) }
      val log = Replay.replay(spark, feed.toDF("a", "b", "ord"), "ord", 1,
        "update")(sdf => NearDupStream.unionFindStage(sdf))
      val kept = log.groupBy(col("doc_id"))
        .agg(max_by(col("change"), col("upd_seq")).as("change"))
        .filter(col("change") === "keep")
        .select("doc_id").as[Long].collect().toSet
      val batch = llm.TextDedup.dedupByPairs(df, "doc_id",
          llm.TextDedup.editDistancePairsMd5(df, "text", "doc_id",
            maxDist = 3, shingleN = 3, bands = 6, rowsPerBand = 1)
            .select("id_a", "id_b"))
        .select("doc_id").as[Long].collect().toSet
      assert(kept === batch, "sharded survivors diverged from batch dedup")
    }
  }

  test("editNearDupStream: streamed survivors equal batch " +
      "dedupByPairs(editDistancePairs); chunking-invariant; floor docs keep") {
    val df = docs.toDF("doc_id", "text")
    val batch = llm.TextDedup.dedupByPairs(df, "doc_id",
        llm.TextDedup.editDistancePairsMd5(df, "text", "doc_id",
          maxDist = 3, shingleN = 3, bands = 6, rowsPerBand = 1)
          .select("id_a", "id_b"))
      .select("doc_id").as[Long].collect().toSet
    assert(batch === Set(1L, 5L, 6L, 7L), s"batch fixture drifted: $batch")
    UniqueStreams.withRocksDBStateStore(spark) {
      def run(chunk: Int) =
        Replay.replay(spark, df, "doc_id", chunk, "update")(sdf =>
          NearDupStream.editNearDupStreamMd5(sdf, "doc_id", "text",
            maxDist = 3, shingleN = 3, bands = 6, rowsPerBand = 1))
          .groupBy(col("doc_id"))
          .agg(max_by(col("change"), col("upd_seq")).as("change"))
          .filter(col("change") === "keep")
          .select("doc_id").as[Long].collect().toSet
      assert(run(1) === batch, "streamed survivors diverged from batch")
      assert(run(3) === batch, "chunk boundaries changed the survivor set")
    }
  }

  test("withEditCodes: one shingle-hash fold per document in a stream's optimized plan; " +
      "codes equal the nested single-column form") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayDistinct, ZipWith}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import llm.TextDedup._
    implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val df = docs.toDF("doc_id", "text")
    // a streaming input: the optimizer infers a filter for the sharded
    // stage's explode there, and pushing it down must not inline the chain
    val sdf = MemoryStream[(Long, String)].toDF().toDF("doc_id", "text")
    for ((fam, md5) <- Seq[(HashFamily, Boolean)]((Md5Hash, true), (XxHash, false))) {
      val (n, bands, rows) = (3, 4, 2)
      val sharded = NearDupStream.editShardedEdges(sdf, "doc_id", "text", maxDist = 3,
        shingleN = n, bands = bands, rowsPerBand = rows, md5Family = md5)
      // the batch-only operation check would refuse to optimize a stream
      val check = "spark.sql.streaming.unsupportedOperationCheck"
      val plans = try {
        spark.conf.set(check, "false")
        Seq(withEditCodes(sdf, "text", n, bands, rows, md5), sharded)
          .map(_.queryExecution.optimizedPlan)
      } finally spark.conf.unset(check)
      for (plan <- plans) {
        val exprs = plan.flatMap(_.expressions)
        def count(pf: PartialFunction[Any, Unit]) = exprs.map(_.collect(pf).size).sum
        assert(count { case _: ArrayDistinct => } === 1, s"md5=$md5: shingle set evaluated more than once\n$plan")
        // the md5 shingle hash folds n-1 zip_withs once; xx has a native kernel
        assert(count { case _: ZipWith => } === (if (md5) n - 1 else 0), s"md5=$md5:\n$plan")
      }
      val sh = array_distinct(charShingleHashes(col("text"), n, fam))
      val sig = minhashFromBaseHashes(sh, bands * rows, fam)
      val nested = when(size(sh) === 0, array().cast("array<string>"))
        .otherwise(array((0 until bands).map(b => concat(lit(s"$b:"),
          fam.band(slice(sig, b * rows + 1, rows), b).cast("string"))): _*))
      val got = withEditCodes(df, "text", n, bands, rows, md5)
        .select("doc_id", "codes").as[(Long, Seq[String])].collect().toMap
      val want = df.select(col("doc_id"), nested).as[(Long, Seq[String])].collect().toMap
      assert(got === want, s"md5=$md5: codes changed")
    }
  }
}
