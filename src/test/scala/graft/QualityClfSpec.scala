package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Trained quality classifier (fastText-style hashed-gram NB): integer
  * stats + closed-form score re-derived by an independent plain-Scala
  * implementation, stream-twin parity, and a class-separation sanity
  * floor on the lang-labeled corpus.
  */
class QualityClfSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Independent reference: tokenize (the shared regex), unigrams +
    * bigrams, md5 2-hex-char buckets, class counts, NB log-odds.
    */
  private def refAll(rows: Seq[(Long, String, String)], alpha: Double)
      : (Map[Long, (Long, Long, Long, Long, Long)], Map[Long, Double]) = {
    def toks(s: String): Seq[String] =
      "[\\p{L}\\p{Nd}]+".r.findAllIn(s.toLowerCase).toSeq
    def grams(s: String): Seq[String] = {
      val t = toks(s)
      t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(g: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.digest(g.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    }
    val cPos = scala.collection.mutable.Map.empty[String, Long]
    val cNeg = scala.collection.mutable.Map.empty[String, Long]
    var nPos = 0L; var nNeg = 0L
    rows.foreach { case (_, lang, text) =>
      val isPos = lang == "en"
      if (isPos) nPos += 1 else nNeg += 1
      grams(text).foreach { g =>
        val b = bucket(g)
        if (isPos) cPos(b) = cPos.getOrElse(b, 0L) + 1
        else cNeg(b) = cNeg.getOrElse(b, 0L) + 1
      }
    }
    val totPos = cPos.values.sum; val totNeg = cNeg.values.sum
    val nB = 256.0
    val logConst = math.log((totNeg + alpha * nB) / (totPos + alpha * nB))
    val logPrior = math.log(nPos.toDouble / nNeg)
    val stats = scala.collection.mutable.Map.empty[Long, (Long, Long, Long, Long, Long)]
    val scores = scala.collection.mutable.Map.empty[Long, Double]
    rows.foreach { case (id, _, text) =>
      val bs = grams(text).map(bucket)
      val n = bs.size.toLong
      val oovP = bs.count(b => cPos.getOrElse(b, 0L) == 0L).toLong
      val oovN = bs.count(b => cNeg.getOrElse(b, 0L) == 0L).toLong
      val hitP = bs.map(b => cPos.getOrElse(b, 0L)).sum
      val hitN = bs.map(b => cNeg.getOrElse(b, 0L)).sum
      stats(id) = (n, oovP, oovN, hitP, hitN)
      scores(id) = logPrior + bs.map(b =>
        math.log(cPos.getOrElse(b, 0L) + alpha) -
          math.log(cNeg.getOrElse(b, 0L) + alpha)).sum + n * logConst
    }
    (stats.toMap, scores.toMap)
  }

  test("qualityClfScore: integer stats + closed-form score equal the " +
      "independent reference; pred = score > 0; classes separate") {
    val docs = Tables.documents(spark, sf)
    val rows = docs.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq
    val (refStats, refScores) = refAll(rows, alpha = 1.0)
    val model = llm.CorpusOps.qualityClfTrain(
      docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
      "text", gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
    val got = llm.CorpusOps.qualityClfScore(docs, "doc_id", "text", model)
      .as[(Long, Long, Long, Long, Long, Long, Double, Boolean)]
      .collect()
    assert(got.length === rows.length)
    got.foreach { case (id, n, oovP, oovN, hitP, hitN, score, pred) =>
      assert((n, oovP, oovN, hitP, hitN) === refStats(id),
        s"integer stats diverged for doc $id")
      assert(math.abs(score - refScores(id)) < 1e-6 * (1 + math.abs(score)),
        s"score diverged for doc $id: $score vs ${refScores(id)}")
      assert(pred === (score > 0), s"pred must be score > 0 for doc $id")
    }
  }

  test("classifier separates PLANTED classes (held-out docs, disjoint " +
      "class vocabularies) — the corpus lang split is deliberately NOT " +
      "used here: its languages share 937/942 of their vocabulary") {
    val posWords = Seq("article", "research", "method", "results", "data",
      "analysis", "study", "evidence", "clear", "summary")
    val negWords = Seq("casino", "winner", "click", "free", "jackpot",
      "prize", "lucky", "bonus", "offer", "spin")
    def doc(words: Seq[String], seed: Int, n: Int): String =
      (0 until n).map(i => words((seed * 31 + i * 7) % words.size)).mkString(" ")
    val train = (0 until 40).map(i => (i.toLong, "pos", doc(posWords, i, 30))) ++
      (40 until 80).map(i => (i.toLong, "neg", doc(negWords, i, 30)))
    val heldOut = (100 until 120).map(i => (i.toLong, "pos", doc(posWords, i + 13, 25))) ++
      (120 until 140).map(i => (i.toLong, "neg", doc(negWords, i + 13, 25)))
    val trainDf = train.toDF("doc_id", "label", "text")
    val model = llm.CorpusOps.qualityClfTrain(
      trainDf.filter(col("label") === "pos"),
      trainDf.filter(col("label") === "neg"), "text",
      gramNs = Seq(1, 2), hexChars = 4)
    val got = llm.CorpusOps.qualityClfScore(
        heldOut.toDF("doc_id", "label", "text"), "doc_id", "text", model)
      .select("doc_id", "pred").as[(Long, Boolean)].collect().toMap
    heldOut.foreach { case (id, label, _) =>
      assert(got(id) === (label == "pos"),
        s"held-out doc $id ($label) misclassified")
    }
  }

  test("stream twin equals batch (chunking-invariant), score included") {
    val docs = Tables.documents(spark, sf)
    val model = llm.CorpusOps.qualityClfTrain(
      docs.filter(col("lang") === "en"), docs.filter(col("lang") =!= "en"),
      "text", gramNs = Seq(1, 2), hexChars = 2, md5Family = true)
    val batch = llm.CorpusOps.qualityClfScore(docs, "doc_id", "text", model)
      .as[(Long, Long, Long, Long, Long, Long, Double, Boolean)]
      .collect().map(r => r._1 -> r).toMap
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      def check(chunk: Int): Unit = {
        val st = streaming.Replay.replay(spark, docs, "doc_id", chunk,
            "update")(sdf =>
            streaming.QualityClfStream.qualityClfScoreStream(sdf, "text",
              "doc_id", model))
          .as[(Long, Long, Long, Long, Long, Long, Double, Boolean)]
          .collect()
        assert(st.length === batch.size, s"row count diverged at chunk $chunk")
        st.foreach { case r @ (id, _, _, _, _, _, score, pred) =>
          val b = batch(id)
          // integer stats EXACT; the score is the same closed form but
          // batch folds m*log once per (doc, bucket) while the stream
          // sums log per occurrence - float association differs
          assert((r._2, r._3, r._4, r._5, r._6) === ((b._2, b._3, b._4, b._5, b._6)),
            s"integer stats diverged for doc $id at chunk $chunk")
          assert(math.abs(score - b._7) < 1e-6 * (1 + math.abs(b._7)),
            s"score diverged for doc $id at chunk $chunk")
          assert(pred === b._8, s"pred diverged for doc $id at chunk $chunk")
        }
      }
      check(100)
      check(500)
    }
  }
}
