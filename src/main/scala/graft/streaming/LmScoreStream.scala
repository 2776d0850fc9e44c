package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.CorpusOps.LmBigramModel
import graft.llm.TextDedup

/** Streaming twin of [[graft.llm.CorpusOps.lmPerplexity]]: score every
  * arriving document against a STATIC pre-trained bigram model
  * ([[graft.llm.CorpusOps.lmTrain]]) — the CCNet deployment shape, where
  * the reference LM is trained offline and the corpus streams past it.
  *
  * Plan: tokenize → bigram explode (explode_outer, so sub-2-token docs
  * still emit their zero row) → stream-static LEFT joins against the
  * model's count relations (stateless — the stream side never waits on
  * state) → ONE per-doc updating aggregation. The batch operator's
  * (doc, bigram-type) pre-aggregation is deliberately absent here:
  * chaining two streaming aggregations is not expressible in update
  * mode, and the per-occurrence join is the same lookup count. Output
  * columns match the batch operator (`doc_lm_ppl` oracle's integer
  * surface + `ppl`), and because the aggregation is incremental the
  * result is correct even when one document's rows straddle micro-batch
  * boundaries.
  *
  * State: one aggregation row per document seen — bounded by the
  * DISTINCT docs in flight, not the token stream. A production pipeline
  * whose doc ids are unbounded uses [[lmScoreStreamWindowed]], the
  * event-time-watermarked form whose per-doc state EVICTS; the replay
  * gates run both (`doc_lm_ppl_stream_replay` unwindowed,
  * `doc_lm_ppl_windowed_stream_replay` windowed, sharing the batch
  * mirror).
  */
object LmScoreStream {

  def lmScoreStream(stream: DataFrame, textCol: String, idCol: String,
                    model: LmBigramModel): DataFrame = {
    val denomAdd = model.alpha * (model.vocabSize + 1).toDouble
    val d = stream.select(col(idCol).as("doc_id"),
        TextDedup.tokenize(col(textCol)).as("toks"))
      .select(col("doc_id"), size(col("toks")).as("n_tokens"),
        explode_outer(TextDedup.shingles(col("toks"), 2)).as("sh"))
      .withColumn("prev", split(col("sh"), " ").getItem(0))
    val joined = d
      .join(model.bi, Seq("sh"), "left")
      .join(model.uni, d("prev") === model.uni("tok"), "left")
      .select(col("doc_id"), col("n_tokens"), col("sh"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"))
      .withColumn("logp",
        log((col("c12").cast("double") + lit(model.alpha)) /
          (col("c1").cast("double") + lit(denomAdd))))
    // the null-sh sentinel of an empty/1-token doc contributes to no sum
    val pos = col("sh").isNotNull
    joined.groupBy(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
      .agg(lmAggs(pos).head, lmAggs(pos).tail: _*)
  }

  private def lmAggs(pos: org.apache.spark.sql.Column) = Seq(
    sum(when(pos, lit(1L)).otherwise(lit(0L))).as("n_bigrams"),
    sum(when(pos && col("c12") === 0L, lit(1L)).otherwise(lit(0L)))
      .as("oov_bigrams"),
    sum(when(pos, col("c1")).otherwise(lit(0L))).as("hit_prev"),
    sum(when(pos, col("c12")).otherwise(lit(0L))).as("hit_bigram"),
    when(sum(when(pos, lit(1L)).otherwise(lit(0L))) > 0L,
      exp(-sum(when(pos, col("logp")).otherwise(lit(0.0))) /
        sum(when(pos, lit(1L)).otherwise(lit(0L)))))
      .as("ppl"))

  /** WATERMARK-BOUNDED form of [[lmScoreStream]] — the bounded-state
    * recipe its scaladoc names, built: the per-doc aggregation is keyed
    * by (event-time window, doc), the stream carries a watermark of
    * `watermarkDelay` on `tsCol`, and Spark EVICTS every window's
    * aggregation rows once the watermark passes its end — state is
    * bounded by the docs in the watermark horizon, not the docs ever
    * seen (continuous ingestion over unbounded doc ids no longer grows
    * state forever; `CorpusOpsSpec` "lmScoreStreamWindowed: parity with
    * batch AND state evicts below the watermark" asserts the eviction, and
    * BASELINE.md "Watermark-bounded scoring streams" records the
    * flat-vs-linear state-rows trajectory).
    *
    * Results for completed documents are IDENTICAL to the unwindowed
    * form whenever all of a document's rows carry one event time (the
    * natural shape — the timestamp is a per-document ingestion time),
    * because the window key is then constant within the doc and merely
    * partitions the doc set; `doc_lm_ppl_windowed_stream_replay` pins
    * this by sharing the batch mirror at a geometry where eviction
    * fires every few micro-batches. Output adds the `window` struct
    * column ahead of the unwindowed surface.
    */
  def lmScoreStreamWindowed(stream: DataFrame, textCol: String, idCol: String,
                            tsCol: String, model: LmBigramModel,
                            windowDur: String, watermarkDelay: String): DataFrame = {
    val denomAdd = model.alpha * (model.vocabSize + 1).toDouble
    val d = stream.select(col(idCol).as("doc_id"), col(tsCol).as("__ts"),
        TextDedup.tokenize(col(textCol)).as("toks"))
      .withWatermark("__ts", watermarkDelay)
      .select(col("doc_id"), col("__ts"), size(col("toks")).as("n_tokens"),
        explode_outer(TextDedup.shingles(col("toks"), 2)).as("sh"))
      .withColumn("prev", split(col("sh"), " ").getItem(0))
    val joined = d
      .join(model.bi, Seq("sh"), "left")
      .join(model.uni, d("prev") === model.uni("tok"), "left")
      .select(col("doc_id"), col("__ts"), col("n_tokens"), col("sh"),
        coalesce(col("c12"), lit(0L)).as("c12"),
        coalesce(col("c1"), lit(0L)).as("c1"))
      .withColumn("logp",
        log((col("c12").cast("double") + lit(model.alpha)) /
          (col("c1").cast("double") + lit(denomAdd))))
    val pos = col("sh").isNotNull
    joined.groupBy(window(col("__ts"), windowDur), col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"))
      .agg(lmAggs(pos).head, lmAggs(pos).tail: _*)
  }
}
