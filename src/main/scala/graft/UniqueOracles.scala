package graft

/** The DuckDB oracle SQL of the 11 `unique:` window families, one builder
  * per family, parameterized by keys, window, length and output variant.
  *
  * This is the only definition of these oracles: the fixed registry rows
  * in `SparkEntry.registry` call the builders at their pinned parameters
  * (user_id key, DAY/WEEK/H6 windows, n = 40/50/100), and
  * `tools.SweepVerify` calls them at seeded random draws. Every builder
  * reads the `events` table and projects [[EVSQL]].
  */
private[graft] object UniqueOracles {

  // oracle output columns: ts cast to µs TIMESTAMP so the DuckDB side
  // matches the engine's TimestampType (the source parquet may be
  // TIMESTAMP_NS)
  val EVSQL = "event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value, props"

  private def pk(keys: Seq[String]): String = keys.mkString(", ")

  private def rnSql(keys: Seq[String], desc: Boolean): String =
    s"row_number() OVER (PARTITION BY ${pk(keys)} ORDER BY event_id ${if (desc) "DESC" else "ASC"})"

  def everSql(keys: Seq[String], variant: String): String = variant match {
    case "current" =>
      s"""SELECT $EVSQL FROM (
         |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events) WHERE rn = 1""".stripMargin
    case "expired" =>
      s"""SELECT $EVSQL FROM (
         |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events) WHERE rn > 1""".stripMargin
    case "all" =>
      s"""SELECT $EVSQL, CASE WHEN rn = 1 THEN 'insert' ELSE 'expire' END AS change FROM (
         |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events)""".stripMargin
  }

  def firstSql(keys: Seq[String]): String =
    s"""SELECT $EVSQL FROM (
       |  SELECT *, ${rnSql(keys, desc = false)} AS rn FROM events) WHERE rn = 1""".stripMargin

  def timeSql(keys: Seq[String], w: Long, variant: String): String = {
    val cur =
      s"""SELECT $EVSQL FROM (
         |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events) WHERE rn = 1
         |  AND epoch_ms(ts) > (SELECT max(epoch_ms(ts)) FROM events) - $w""".stripMargin
    if (variant == "current") cur
    else
      s"""SELECT $EVSQL FROM events WHERE event_id NOT IN (
         |  SELECT event_id FROM ($cur))""".stripMargin
  }

  /** timeBatch family: fixed anchor (s) or min(ts) anchor (None);
    * keepFirst flips the within-batch winner; replaceTs rewrites ts to
    * the batch end.
    */
  def timeBatchSql(keys: Seq[String], w: Long, start: Option[Long],
                           keepFirst: Boolean, replaceTs: Boolean,
                           variant: String): String = {
    val ord = if (keepFirst) "ASC" else "DESC"
    val (from, bs) = start match {
      case Some(s) =>
        ("events", s"((epoch_ms(ts) - $s) // $w) * $w + $s")
      case None =>
        ("events e CROSS JOIN (SELECT min(epoch_ms(ts)) AS m FROM events) s",
          s"((epoch_ms(ts) - s.m) // $w) * $w + s.m")
    }
    val head =
      if (replaceTs)
        s"""SELECT event_id, make_timestamp((batch_start_ms + $w) * 1000) AS ts,
           |  user_id, event_type, value, props, batch_start_ms""".stripMargin
      else s"SELECT $EVSQL, batch_start_ms"
    val inner =
      s"""SELECT ${if (start.isEmpty) "e." else ""}*, $bs AS batch_start_ms,
         |    row_number() OVER (PARTITION BY $bs, ${pk(keys)} ORDER BY event_id $ord) AS rn
         |  FROM $from""".stripMargin
    val expFilter =
      if (variant == "expired")
        s"""
           |  AND batch_start_ms < (SELECT max($bs) FROM $from)""".stripMargin
      else ""
    s"""$head FROM (
       |  $inner) WHERE rn = 1$expFilter""".stripMargin
  }

  def lengthSql(keys: Seq[String], n: Int, variant: String): String = {
    val cur =
      s"""SELECT $EVSQL FROM (
         |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events) WHERE rn = 1
         |  ORDER BY event_id DESC LIMIT $n""".stripMargin
    if (variant == "current") cur
    else
      s"""SELECT $EVSQL FROM events WHERE event_id NOT IN (
         |  SELECT event_id FROM ($cur))""".stripMargin
  }

  /** lengthBatch boundary fold: the next boundary after prev is the
    * first-occurrence seq of the n-th new distinct key (max of the n
    * smallest first occurrences > prev); the recursive CTE walks the
    * boundaries, then events are range-assigned to batches and reduced
    * latest- (or first-) per-(batch, key).
    */
  def lengthBatchSql(keys: Seq[String], n: Int, latest: Boolean,
                             expiredOnly: Boolean): String = {
    val ord = if (latest) "DESC" else "ASC"
    val expFilter = if (expiredOnly) " AND bid < (SELECT max(bid) FROM bnd)" else ""
    s"""WITH RECURSIVE bnd(bid, s) AS (
       |  SELECT 0::BIGINT AS bid, t.nb AS s FROM (
       |    SELECT CASE WHEN count(*) = $n THEN max(fs) END AS nb FROM (
       |      SELECT min(event_id) AS fs FROM events GROUP BY ${pk(keys)} ORDER BY fs LIMIT $n)
       |  ) t WHERE t.nb IS NOT NULL
       |  UNION ALL
       |  SELECT bnd.bid + 1, t.nb FROM bnd, LATERAL (
       |    SELECT CASE WHEN count(*) = $n THEN max(fs) END AS nb FROM (
       |      SELECT min(event_id) AS fs FROM events WHERE event_id > bnd.s GROUP BY ${pk(keys)} ORDER BY fs LIMIT $n)
       |  ) t WHERE t.nb IS NOT NULL
       |),
       |iv AS (SELECT bid, coalesce(lag(s) OVER (ORDER BY bid), -1) AS lo, s AS hi FROM bnd),
       |t AS (SELECT e.*, iv.bid FROM events e JOIN iv ON e.event_id > iv.lo AND e.event_id <= iv.hi)
       |SELECT $EVSQL, bid AS batch_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY bid, ${pk(keys)} ORDER BY event_id $ord) AS rn
       |  FROM t) WHERE rn = 1$expFilter""".stripMargin
  }

  def timeLengthBatchSql(keys: Seq[String], w: Long, n: Int,
                                 variant: String = "current"): String = {
    val kpart = pk(keys)
    // expired = latch-filtered batches strictly before the last batch id
    // over ALL events (UniqueOps.timeLengthBatch anchors __last on the
    // tagged frame)
    val expFilter =
      if (variant == "expired")
        s"""
           |  AND batch_start_ms < (SELECT max(epoch_ms(ts) // $w) * $w FROM events)""".stripMargin
      else ""
    s"""WITH t AS (SELECT *, epoch_ms(ts) // $w AS b FROM events),
       |f AS (SELECT *, CASE WHEN event_id = min(event_id) OVER (PARTITION BY b, $kpart) THEN 1 ELSE 0 END AS isf FROM t),
       |r AS (SELECT *, coalesce(sum(isf) OVER (PARTITION BY b ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM f)
       |SELECT $EVSQL, batch_start_ms FROM (
       |  SELECT *, b * $w AS batch_start_ms,
       |    row_number() OVER (PARTITION BY b, $kpart ORDER BY event_id DESC) AS rn
       |  FROM r WHERE bef < $n) WHERE rn = 1$expFilter""".stripMargin
  }

  /** `all` output mode: the change-log union of the current and expired
    * SQL (UniqueResult.all — current tagged 'insert', expired 'expire').
    */
  def allSql(cur: String, exp: String): String =
    s"""SELECT *, 'insert' AS change FROM ($cur)
       |UNION ALL
       |SELECT *, 'expire' AS change FROM ($exp)""".stripMargin

  /** deduplicateStreamBloom's epoch recurrence (exact for a generously-
    * sized filter on the strictly-monotone events feed): next kept =
    * first event ≥ 2 interval-epochs after the last kept.
    */
  def deduplicateBloomSql(keys: Seq[String], w: Long): String = {
    val kp = pk(keys)
    val ke = keys.map(k => s"e.$k").mkString(", ")
    val joinCond = keys.map(k => s"e.$k = k.$k").mkString(" AND ")
    val evJoin = keys.map(k => s"ev.$k = kp.$k").mkString(" AND ")
    s"""WITH RECURSIVE e AS (SELECT $kp, epoch_ms(ts) AS ms FROM events),
       |kept AS (
       |  SELECT $kp, min(ms) AS ms FROM e GROUP BY $kp
       |  UNION ALL
       |  SELECT $ke, min(e.ms) AS ms FROM e JOIN kept k
       |    ON $joinCond AND e.ms // $w >= k.ms // $w + 2 GROUP BY $ke
       |)
       |SELECT $EVSQL FROM (
       |  SELECT ev.*, row_number() OVER (PARTITION BY ${keys.map(k => s"ev.$k").mkString(", ")}, epoch_ms(ev.ts) ORDER BY ev.event_id) AS rn
       |  FROM events ev JOIN kept kp ON $evJoin AND epoch_ms(ev.ts) = kp.ms
       |) WHERE rn = 1""".stripMargin
  }

  def deduplicateSql(keys: Seq[String], w: Long): String = {
    val kp = pk(keys)
    val ke = keys.map(k => s"e.$k").mkString(", ")
    val joinCond = keys.map(k => s"e.$k = k.$k").mkString(" AND ")
    val evJoin = keys.map(k => s"ev.$k = kp.$k").mkString(" AND ")
    s"""WITH RECURSIVE e AS (SELECT $kp, epoch_ms(ts) AS ms FROM events),
       |kept AS (
       |  SELECT $kp, min(ms) AS ms FROM e GROUP BY $kp
       |  UNION ALL
       |  SELECT $ke, min(e.ms) AS ms FROM e JOIN kept k
       |    ON $joinCond AND e.ms > k.ms + $w GROUP BY $ke
       |)
       |SELECT $EVSQL FROM (
       |  SELECT ev.*, row_number() OVER (PARTITION BY ${keys.map(k => s"ev.$k").mkString(", ")}, epoch_ms(ev.ts) ORDER BY ev.event_id) AS rn
       |  FROM events ev JOIN kept kp ON $evJoin AND epoch_ms(ev.ts) = kp.ms
       |) WHERE rn = 1""".stripMargin
  }

  /** Hot-key geometry deduplicate oracle: the same epoch recurrence over a
    * corpus where every event_id not divisible by `hotMod` collapses onto
    * one 'HOT' key — the 1-key-dominates shape the salted twin exists for.
    * DuckDB's `* REPLACE` mirrors the Spark-side withColumn rewrite.
    */
  def hotKeyDedupSql(w: Long, hotMod: Int): String =
    s"""WITH RECURSIVE hot AS (
       |  SELECT * REPLACE (CASE WHEN event_id % $hotMod <> 0 THEN -1 ELSE user_id END AS user_id)
       |  FROM events),
       |e AS (SELECT user_id, epoch_ms(ts) AS ms FROM hot),
       |kept AS (
       |  SELECT user_id, min(ms) AS ms FROM e GROUP BY user_id
       |  UNION ALL
       |  SELECT e.user_id, min(e.ms) AS ms FROM e JOIN kept k
       |    ON e.user_id = k.user_id AND e.ms > k.ms + $w GROUP BY e.user_id
       |)
       |SELECT $EVSQL FROM (
       |  SELECT ev.*, row_number() OVER (PARTITION BY ev.user_id, epoch_ms(ev.ts) ORDER BY ev.event_id) AS rn
       |  FROM hot ev JOIN kept kp ON ev.user_id = kp.user_id AND epoch_ms(ev.ts) = kp.ms
       |) WHERE rn = 1""".stripMargin

  // ---- streaming-sweep oracle builders (the change-log shapes the fixed
  // replay rows use, parameterized by keys/window/n) ----

  def everStreamSql(keys: Seq[String]): String =
    s"""SELECT $EVSQL, 'insert' AS change FROM events
       |UNION ALL
       |SELECT $EVSQL, 'expire' AS change FROM (
       |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events) WHERE rn > 1""".stripMargin

  def lengthStreamSql(keys: Seq[String], n: Int): String =
    s"""SELECT $EVSQL, 'insert' AS change FROM events
       |UNION ALL
       |SELECT $EVSQL, 'expire' AS change FROM events WHERE event_id NOT IN (
       |  SELECT event_id FROM (${lengthSql(keys, n, "current")}))""".stripMargin

  def timeStreamSql(keys: Seq[String], w: Long): String =
    s"""SELECT $EVSQL, 'insert' AS change FROM events
       |UNION ALL
       |SELECT $EVSQL, 'expire' AS change FROM (
       |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events) WHERE rn > 1
       |UNION ALL
       |SELECT $EVSQL, 'expire' AS change FROM (
       |  SELECT *, ${rnSql(keys, desc = true)} AS rn FROM events) WHERE rn = 1
       |  AND epoch_ms(ts) + $w < (SELECT max(epoch_ms(ts)) FROM events)""".stripMargin

  def lengthBatchStreamSql(keys: Seq[String], n: Int, latest: Boolean): String =
    s"""SELECT *, 'insert' AS change FROM (${lengthBatchSql(keys, n, latest, expiredOnly = false)})
       |UNION ALL
       |SELECT *, 'expire' AS change FROM (${lengthBatchSql(keys, n, latest, expiredOnly = true)})""".stripMargin

  def etbStreamSql(keys: Seq[String], w: Long): String =
    s"""SELECT $EVSQL, batch_start_ms + $w AS batch_end_ms FROM (
       |  SELECT e.*, ((epoch_ms(ts) - s.m) // $w) * $w + s.m AS batch_start_ms,
       |    (epoch_ms(ts) - s.m) // $w AS bid,
       |    row_number() OVER (PARTITION BY (epoch_ms(ts) - s.m) // $w, ${pk(keys)} ORDER BY event_id DESC) AS rn
       |  FROM events e CROSS JOIN (SELECT min(epoch_ms(ts)) AS m FROM events) s
       |) WHERE rn = 1 AND bid < (
       |  SELECT max((epoch_ms(ts) - s2.m) // $w)
       |  FROM events CROSS JOIN (SELECT min(epoch_ms(ts)) AS m FROM events) s2)""".stripMargin

  /** Full insert+expire change-log mirror of `timeLengthBatchStream`
    * (the round-11 operator emits the full log, matching the fixed
    * `timelengthbatch_stream_replay` oracle): every flushed batch
    * 'insert'; every flushed batch except the LAST FLUSHED re-emitted
    * 'expire' (with its own batch_start_ms) when the next flush happens.
    * The pre-round-11 insert-only form of this builder silently
    * half-covered the operator once the engine grew the expire stream —
    * caught by the seed-1105/1106 streaming sweeps (rows ≈ 2× oracle).
    */
  def tlbStreamSql(keys: Seq[String], w: Long, n: Int,
                           keepFirst: Boolean = false): String = {
    val kpart = pk(keys)
    val ord = if (keepFirst) "ASC" else "DESC"
    s"""WITH t AS (SELECT *, epoch_ms(ts) // $w AS b FROM events),
       |f AS (SELECT *, CASE WHEN event_id = min(event_id) OVER (PARTITION BY b, $kpart) THEN 1 ELSE 0 END AS isf FROM t),
       |r AS (SELECT *, coalesce(sum(isf) OVER (PARTITION BY b ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM f),
       |k AS (SELECT * FROM r WHERE bef < $n),
       |fl AS (
       |  SELECT b FROM (SELECT DISTINCT b, $kpart FROM k) GROUP BY b HAVING count(*) = $n
       |  UNION
       |  SELECT DISTINCT b FROM k WHERE b < (SELECT max(b) FROM t)),
       |w AS (SELECT $EVSQL, batch_start_ms FROM (
       |  SELECT *, b * $w AS batch_start_ms,
       |    row_number() OVER (PARTITION BY b, $kpart ORDER BY event_id $ord) AS rn
       |  FROM k WHERE b IN (SELECT b FROM fl)) WHERE rn = 1)
       |SELECT *, 'insert' AS change FROM w
       |UNION ALL
       |SELECT *, 'expire' AS change FROM w
       |WHERE batch_start_ms < (SELECT max(b) * $w FROM fl)""".stripMargin
  }
}
