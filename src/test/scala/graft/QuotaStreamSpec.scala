package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{QuotaStream, Replay, UniqueStreams}

/** Streaming per-group quota admission vs the batch capPerGroup: ordered
  * feed equality, cross-batch counter persistence, chunking invariance,
  * and restart safety (counters restore — no double admission).
  */
class QuotaStreamSpec extends AnyFunSuite with SparkTestSession {
  import spark.implicits._

  private val rows = (1L to 40L).map(i => (i, s"s${(i % 3).toInt}", s"t$i"))

  private def withRocks[T](body: => T): T =
    UniqueStreams.withRocksDBStateStore(spark)(body)

  test("ordered feed: admissions equal batch capPerGroup across chunk " +
      "sizes and survive kill/restart without double admission") {
    val df = rows.toDF("doc_id", "source", "text")
    val batch = llm.CorpusOps.capPerGroup(df, "source", "doc_id", 5)
      .select("doc_id").as[Long].collect().toSet
    assert(batch.size == 15, s"fixture drift: ${batch.size}")
    withRocks {
      def run(chunk: Int) =
        Replay.replay(spark, df, "doc_id", chunk, "append")(sdf =>
          QuotaStream.capPerGroupStream(sdf, "source", "doc_id", 5))
          .select("doc_id").as[Long].collect().toSet
      // chunk 3: quotas fill mid-batch AND across batches; chunk 40: one
      // batch exercises the per-batch sort path alone
      assert(run(3) === batch, "streamed admissions diverged from batch cap")
      assert(run(40) === batch, "single-batch admissions diverged")
      val restarted =
        Replay.replayWithRestart(spark, df, "doc_id", 7)(sdf =>
          QuotaStream.capPerGroupStream(sdf, "source", "doc_id", 5))
          .select("doc_id").as[Long].collect().toSet
      assert(restarted === batch,
        "restart changed admissions (counter restore must prevent re-admission)")
    }
  }

  test("mixByTokenBudget: greedy fill admits the crossing doc, rejects " +
      "the rest; over-budget groups keep everything") {
    // s0: 4+4+4+4 tokens, budget 10 → docs 1,2,3 admitted (tok_before
    // 0,4,8 < 10; doc 3 CROSSES — greedy fill), doc 4 rejected (12)
    // s1: budget 1000 → all admitted
    val df = Seq(
      (1L, "s0", "a b c d"), (2L, "s0", "e f g h"),
      (3L, "s0", "i j k l"), (4L, "s0", "m n o p"),
      (5L, "s1", "q r"), (6L, "s1", "s t")
    ).toDF("doc_id", "source", "text")
    val got = llm.CorpusOps.mixByTokenBudget(df, "doc_id", "text", "source",
        defaultBudget = 10L, budgetByGroup = Map("s1" -> 1000L))
      .select("doc_id", "n_tok", "tok_before")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === Set((1L, 4, 0L), (2L, 4, 4L), (3L, 4, 8L),
      (5L, 2, 0L), (6L, 2, 2L)))
    // null text = 0 tokens, admissible — must not null-poison the
    // running sum and silently drop the rest of its group
    val withNull = Seq((1L, "s0", "a b"), (2L, "s0", null),
      (3L, "s0", "c d")).toDF("doc_id", "source", "text")
    val gotN = llm.CorpusOps.mixByTokenBudget(withNull, "doc_id", "text",
        "source", defaultBudget = 10L)
      .select("doc_id", "n_tok", "tok_before")
      .as[(Long, Int, Long)].collect().toSet
    assert(gotN === Set((1L, 2, 0L), (2L, 0, 2L), (3L, 2, 2L)))
  }

  test("mixByTokenBudgetSegmented: sym-diff-0 vs the window form " +
      "(fixture + sf0.001 corpus, ranges genuinely split groups)") {
    // fixture incl. greedy-fill boundary, per-group override, null text
    val df = Seq(
      (1L, "s0", "a b c d"), (2L, "s0", "e f g h"),
      (3L, "s0", "i j k l"), (4L, "s0", "m n o p"),
      (5L, "s1", "q r"), (6L, "s1", null: String),
      (7L, "s1", "s t")
    ).toDF("doc_id", "source", "text")
    def key(r: (Long, Int, Long)) = r
    for (w <- Seq(1L, 2L, 100L)) { // 1 = one range per doc; 100 = one range total
      val win = llm.CorpusOps.mixByTokenBudget(df, "doc_id", "text", "source",
          defaultBudget = 10L, budgetByGroup = Map("s1" -> 1000L))
        .select("doc_id", "n_tok", "tok_before")
        .as[(Long, Int, Long)].collect().toSet
      val seg = llm.CorpusOps.mixByTokenBudgetSegmented(df, "doc_id", "text",
          "source", defaultBudget = 10L, budgetByGroup = Map("s1" -> 1000L),
          rangeWidth = w)
        .select("doc_id", "n_tok", "tok_before")
        .as[(Long, Int, Long)].collect().toSet
      assert(seg === win, s"segmented (rangeWidth=$w) diverged from window form")
    }
    // corpus-scale: sf0.001 documents, rangeWidth small enough that every
    // source occupies many ranges and the offset chain + prune both fire
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val win = llm.CorpusOps.mixByTokenBudget(docs, "doc_id", "text", "source",
        defaultBudget = 500L, budgetByGroup = Map("src1" -> 700L))
      .select("doc_id", "n_tok", "tok_before")
      .as[(Long, Int, Long)].collect().toSet
    val seg = llm.CorpusOps.mixByTokenBudgetSegmented(docs, "doc_id", "text",
        "source", defaultBudget = 500L, budgetByGroup = Map("src1" -> 700L),
        rangeWidth = 8L)
      .select("doc_id", "n_tok", "tok_before")
      .as[(Long, Int, Long)].collect().toSet
    assert(win.nonEmpty, "fixture drift: empty admission set")
    assert(seg === win, "segmented diverged from window form on the corpus")
  }

  test("tokenBudgetStream: ordered feed equals batch mixByTokenBudget; " +
      "chunking-invariant; restart-safe (token counters restore)") {
    val df = rows.toDF("doc_id", "source", "text") // texts "t$i": 2 toks each
    val budgets = Map("s1" -> 8L)
    val batch = llm.CorpusOps.mixByTokenBudget(df, "doc_id", "text", "source",
        defaultBudget = 5L, budgetByGroup = budgets)
      .select("doc_id", "n_tok", "tok_before")
      .as[(Long, Int, Long)].collect().toSet
    assert(batch.nonEmpty && batch.size < rows.size, s"fixture drift: $batch")
    withRocks {
      def run(chunk: Int) =
        Replay.replay(spark, df, "doc_id", chunk, "append")(sdf =>
          QuotaStream.tokenBudgetStream(sdf, "source", "doc_id", "text",
            defaultBudget = 5L, budgetByGroup = budgets))
          .select(col("doc_id"), col("n_tok").cast("int"), col("tok_before"))
          .as[(Long, Int, Long)].collect().toSet
      assert(run(3) === batch, "streamed admissions diverged from batch")
      assert(run(40) === batch, "single-batch admissions diverged")
      val restarted =
        Replay.replayWithRestart(spark, df, "doc_id", 7)(sdf =>
          QuotaStream.tokenBudgetStream(sdf, "source", "doc_id", "text",
            defaultBudget = 5L, budgetByGroup = budgets))
          .select(col("doc_id"), col("n_tok").cast("int"), col("tok_before"))
          .as[(Long, Int, Long)].collect().toSet
      assert(restarted === batch, "restart changed token admissions")
    }
  }

  test("admitted rows carry the full input schema through") {
    val df = rows.toDF("doc_id", "source", "text")
    withRocks {
      val out = Replay.replay(spark, df, "doc_id", 10, "append")(sdf =>
        QuotaStream.capPerGroupStream(sdf, "source", "doc_id", 2))
      assert(out.columns.toSeq == Seq("doc_id", "source", "text"))
      val got = out.as[(Long, String, String)].collect().toSet
      val expected = rows.groupBy(_._2).values.flatMap(_.sortBy(_._1).take(2)).toSet
      assert(got === expected)
    }
  }
}
