package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.llm.Bpe

/** BPE tier: trainer known answers (count/tie/stop rules), encoder known
  * answers (greedy min-rank leftmost, UNK, overlap), the native
  * expression through a DataFrame (codegen path), and the tokenizer
  * option on the quota tier.
  */
class BpeSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  test("trainOnSample: known-answer merges, ids; overlap counting; " +
      "early stop when best count < 2") {
    // "abababcd": (a,b)=3, (b,a)=2 → merge1 (a,b); then (ab,ab)=2,
    // (ab,c)=1, (c,d)=1 → merge2 (ab,ab); vocab a..d = 1..4, ab=5, abab=6
    val m = Bpe.trainOnSample("abababcd", 4)
    assert(m.merges === IndexedSeq(("a", "b"), ("ab", "ab")))
    assert(m.tokenIds === Map("a" -> 1, "b" -> 2, "c" -> 3, "d" -> 4,
      "ab" -> 5, "abab" -> 6))
    // after the two merges: tokens abab, ab, c, d — no pair ≥ 2 → the
    // 3rd/4th requested merges never happen (early stop)
    // overlap counting: "aaaa" has (a,a) count 3; L→R merge-all → aa aa
    val m2 = Bpe.trainOnSample("aaaa", 1)
    assert(m2.merges === IndexedSeq(("a", "a")))
    // tie-break: "xyxy" + "abab"? simpler: "baba" — (b,a)=2, (a,b)=1 →
    // (b,a) wins on count; "abab": (a,b)=2, (b,a)=1 → (a,b).
    assert(Bpe.trainOnSample("abab", 1).merges === IndexedSeq(("a", "b")))
    assert(Bpe.trainOnSample("baba", 1).merges === IndexedSeq(("b", "a")))
    // lexicographic tie: "aabb" — (a,a)=1,(a,b)=1,(b,b)=1 all < 2 → stop
    assert(Bpe.trainOnSample("aabb", 3).merges.isEmpty)
    // "abxaby": (a,b)=2 others 1 → (a,b); ties (count 2): "abcabc" has
    // (a,b)=2,(b,c)=2,(c,a)=1 → lex smallest (a,b)
    assert(Bpe.trainOnSample("abcabc", 1).merges === IndexedSeq(("a", "b")))
  }

  test("encodeString: greedy min-rank leftmost; UNK = 0; overlap") {
    val m = Bpe.trainOnSample("abababcd", 4) // merges (a,b), (ab,ab)
    assert(Bpe.encodeString("ababcd", m).toSeq === Seq(6, 3, 4)) // abab c d
    assert(Bpe.encodeString("abxz", m).toSeq === Seq(5, 0, 0))   // ab UNK UNK
    assert(Bpe.encodeString("", m).toSeq === Seq.empty)
    // overlap: merges [(a,a)] on "aaaaa" → leftmost: aa aa a
    val m2 = Bpe.trainOnSample("aaaa", 1)
    val aaId = m2.tokenIds("aa"); val aId = m2.tokenIds("a")
    assert(Bpe.encodeString("aaaaa", m2).toSeq === Seq(aaId, aaId, aId))
  }

  test("native expression through a DataFrame (codegen path) equals " +
      "encodeString; null text → null array") {
    val m = Bpe.trainOnSample("abababcd", 4)
    val df = Seq((1L, "ababcd"), (2L, "abxz"), (3L, null: String))
      .toDF("id", "text")
    val got = df.select(col("id"), Bpe.encode(col("text"), m).as("ids"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap
    assert(got(1L) === Seq(6, 3, 4))
    assert(got(2L) === Seq(5, 0, 0))
    assert(got(3L) === null)
  }

  test("tokenizer option: mixByTokenBudget under the BPE model equals a " +
      "hand-computed admission set; stream twin matches batch") {
    val m = Bpe.trainOnSample("abababcd", 4)
    // token counts under m: "abab cd"? strings below; s0 budget 4
    val df = Seq(
      (1L, "s0", "ababab"),  // tokens: abab, ab → 2
      (2L, "s0", "abcd"),    // ab, c, d → 3 (tok_before 2 < 4: crossing doc)
      (3L, "s0", "ab"),      // 1 (tok_before 5 ≥ 4: rejected)
      (4L, "s1", "zzzz")     // 4 UNKs, budget default 4 → admitted (0 < 4)
    ).toDF("doc_id", "source", "text")
    val tok = (c: org.apache.spark.sql.Column) => Bpe.tokenCount(c, m)
    val got = llm.CorpusOps.mixByTokenBudget(df, "doc_id", "text", "source",
        defaultBudget = 4L, tokenizer = Some(tok))
      .select("doc_id", "n_tok", "tok_before")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === Set((1L, 2, 0L), (2L, 3, 2L), (4L, 4, 0L)))
    // segmented form with the tokenizer: identical admission set
    val seg = llm.CorpusOps.mixByTokenBudgetSegmented(df, "doc_id", "text",
        "source", defaultBudget = 4L, rangeWidth = 2L, tokenizer = Some(tok))
      .select("doc_id", "n_tok", "tok_before")
      .as[(Long, Int, Long)].collect().toSet
    assert(seg === got, "segmented diverged under the BPE tokenizer")
    // ingest-point stream twin
    streaming.UniqueStreams.withRocksDBStateStore(spark) {
      val streamed = streaming.Replay.replay(spark, df, "doc_id", 2,
          "append")(sdf => streaming.QuotaStream.tokenBudgetStream(sdf,
            "source", "doc_id", "text", defaultBudget = 4L,
            tokenizer = Some(tok)))
        .select(col("doc_id"), col("n_tok").cast("int"), col("tok_before"))
        .as[(Long, Int, Long)].collect().toSet
      assert(streamed === got, "stream twin diverged under the BPE tokenizer")
    }
  }

  test("train on the documents table is bounded and deterministic") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val m1 = Bpe.train(docs, "doc_id", "text", numMerges = 16,
      sampleDocs = 4, sampleChars = 240)
    val m2 = Bpe.train(docs.repartition(7), "doc_id", "text", numMerges = 16,
      sampleDocs = 4, sampleChars = 240)
    assert(m1 === m2, "training must not depend on partitioning")
    assert(m1.merges.nonEmpty && m1.merges.size <= 16)
    assert(m1.vocabSize >= m1.merges.size)
  }

  test("null-text docs are excluded from the sample, not coalesced to " +
      "''(which would inject a phantom separator)") {
    val clean = Seq((1L, "abab"), (3L, "abab")).toDF("doc_id", "text")
    val withNull = Seq((1L, "abab"), (2L, null.asInstanceOf[String]),
      (3L, "abab")).toDF("doc_id", "text")
    val mClean = Bpe.train(clean, "doc_id", "text", 4, sampleDocs = 2)
    val mNull = Bpe.train(withNull, "doc_id", "text", 4, sampleDocs = 2)
    assert(mClean === mNull,
      "a null-text doc among the first sampleDocs must not shift the sample")
  }

  /** Plain-Scala per-doc reference trainer: pairs counted within docs
    * and summed, ties (count desc, code-point lex), merge applied to
    * every doc — the independent semantics trainDistributed must match.
    */
  private def refTrainOnDocs(docs: Seq[String], numMerges: Int): IndexedSeq[(String, String)] = {
    var toks = docs.map(_.toList.map(_.toString)).toBuffer
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.size < numMerges) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Int]
      toks.foreach { tk =>
        tk.sliding(2).foreach {
          case List(a, b) => counts((a, b)) = counts.getOrElse((a, b), 0) + 1
          case _ =>
        }
      }
      val cand = counts.filter(_._2 >= 2)
      if (cand.isEmpty) continue = false
      else {
        val (l, r) = cand.keys.minBy { case (a, b) => (-cand((a, b)), a, b) }
        merges += ((l, r))
        toks = toks.map { tk =>
          val out = scala.collection.mutable.ListBuffer.empty[String]
          tk.foreach { t =>
            if (out.nonEmpty && out.last == l && t == r)
              out(out.length - 1) = l + r
            else out += t
          }
          out.toList
        }
      }
    }
    merges.toIndexedSeq
  }

  test("trainDistributed: matches the plain-Scala per-doc reference and " +
      "is partition-invariant; document boundary = pre-tokenization boundary") {
    val docs = Seq((1L, "the cat sat"), (2L, "the bat sat"), (3L, "a cat"),
      (4L, "sats the"), (5L, "tata"), (6L, "th th"))
      .toDF("doc_id", "text")
    val m = Bpe.trainDistributed(docs, "doc_id", "text", numMerges = 8,
      sampleDocs = 6, sampleChars = 240)
    val ref = refTrainOnDocs(Seq("the cat sat", "the bat sat", "a cat",
      "sats the", "tata", "th th"), 8)
    assert(m.merges === ref, s"got ${m.merges}, want $ref")
    val m2 = Bpe.trainDistributed(docs.repartition(5), "doc_id", "text",
      numMerges = 8, sampleDocs = 6, sampleChars = 240)
    assert(m === m2, "distributed training must not depend on partitioning")
    // boundary semantics: "ab" + "ba" as two docs never merges across the
    // boundary — (b, a) occurs zero times within any doc
    val two = Seq((1L, "ab"), (2L, "ba"), (3L, "ab"), (4L, "ba"))
      .toDF("doc_id", "text")
    val mb = Bpe.trainDistributed(two, "doc_id", "text", 4, sampleDocs = 4)
    assert(mb.merges === IndexedSeq(("a", "b"), ("b", "a")).take(mb.merges.size))
    assert(mb.merges.contains(("a", "b")),
      "within-doc pair must merge; the (b,a) pair exists only within 'ba' docs")
  }

  test("trainDistributed equals trainOnSample when each doc is one " +
      "boundary-free segment and no merge spans '\\n' in the joined form") {
    // single doc: both trainers see the identical token sequence
    val one = Seq((1L, "abababcd")).toDF("doc_id", "text")
    val md = Bpe.trainDistributed(one, "doc_id", "text", 4, sampleDocs = 1)
    val ms = Bpe.trainOnSample("abababcd", 4)
    assert(md === ms)
  }

  test("parseMergesLines + fromMerges: GPT-2-format loader round-trip; " +
      "encode under a loaded model matches the trained twin") {
    val lines = Seq(
      "#version: 0.2 — fixture artifact",
      "",
      "a b",
      "ab ab")
    val merges = Bpe.parseMergesLines(lines)
    assert(merges === IndexedSeq(("a", "b"), ("ab", "ab")))
    val loaded = Bpe.fromMerges(merges, Seq("a", "b", "c", "d"))
    val trained = Bpe.trainOnSample("abababcd", 4)
    assert(loaded === trained,
      "a model loaded from the artifact must equal its trained twin")
    assert(Bpe.encodeString("ababcdq", loaded).toSeq ===
      Bpe.encodeString("ababcdq", trained).toSeq)
    // malformed lines fail loudly
    intercept[IllegalArgumentException] { Bpe.parseMergesLines(Seq("a b c")) }
    intercept[IllegalArgumentException] { Bpe.parseMergesLines(Seq("ab")) }
    intercept[IllegalArgumentException] { Bpe.fromMerges(merges, Seq.empty) }
  }
}
