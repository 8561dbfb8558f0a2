package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.streaming.InferStream
import Tables.events

/** Structured Streaming inside the correctness gate: each w-query runs
  * as a REAL streaming query (file source → transform → memory sink,
  * AvailableNow trigger) and its result table is hash-compared against
  * the batch DuckDB oracle.
  */
object StreamingQ {

  private val runId = new AtomicInteger(0)

  /** Dump a one-column `value` NDJSON projection of a batch frame under
    * a fresh temp dir and open it as a streaming source. Returns the
    * stream plus a cleanup thunk — call it AFTER the streaming query
    * terminated (AvailableNow has read everything by then; without
    * cleanup every Verify run leaks a full copy of the input). */
  private def jsonStream(s: SparkSession, ndjson: DataFrame,
                         schema: String): (DataFrame, () => Unit) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-wq").toString
    ndjson.write.mode("overwrite").text(s"$tmp/in")
    (s.readStream.schema(schema).json(s"$tmp/in"), () => Rm.rf(tmp))
  }

  /** Run a streaming frame to completion (AvailableNow) into a memory
    * sink and return the result table. */
  private def runToMemory(s: SparkSession, df: DataFrame,
                          mode: String): DataFrame = {
    val qname = s"graft_wq_${runId.incrementAndGet()}"
    val q = df.writeStream.format("memory").queryName(qname)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.table(qname)
  }

  /** Shared serve core of the online-ANN queries (w25/w27): build the
    * persisted index via `buildIdx` (w25: one full AnnIndex.write;
    * w27: build-half write + append + compact), then stream query
    * vectors against the STORED tables — literal-baked centroid
    * routing, cached stream-static postings join, per-query ADC
    * table, one streaming min-aggregation. See w25's description for
    * the full design rationale; the two queries differ ONLY in how
    * the index on disk came to be. */
  private def annServeStreamed(s: SparkSession, dir: String,
      buildIdx: (DataFrame, String) => Unit): DataFrame = {
    val emb = Tables.t(s, dir, "embeddings")
    val tmp = java.nio.file.Files
      .createTempDirectory("graft-w25").toString
    try {
      buildIdx(emb, tmp)
      // serve-time bounded collects from the STORED tables: cell
      // centroids (labels asc — array_position's first-max then
      // breaks cosine ties toward the smallest label) + codebook
      val cents = s.read.parquet(s"$tmp/centroids")
        .select(col("label").cast("long"), col("cv"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq
      val cb = graft.operators.AnnIndex.loadCodebook(s, tmp)
      val m = cb.size
      // queries 0..19 stream in as DOUBLE arrays (doubles survive
      // the JSON hop bit-exactly; floats are widened BEFORE
      // serialization, matching the oracle's CAST(x AS DOUBLE))
      val (stream, cleanup) = jsonStream(s,
        emb.filter(col("vec_id") < 20)
          .select(to_json(struct(
            col("vec_id").as("qid"),
            transform(col("embedding"), x => x.cast("double"))
              .as("qv"))).as("value")),
        "qid LONG, qv ARRAY<DOUBLE>")
      val EL = graft.operators.ExprLet
      val Sim = graft.operators.Similarity
      val routed = stream.withColumn("cell",
        EL.let(array(cents.map { case (_, cv) =>
          Sim.cosine(col("qv"), typedlit(cv)) }: _*)) { ss =>
          element_at(typedlit(cents.map(_._1)),
            array_position(ss, array_max(ss)).cast("int"))
        })
      // stream-static joins re-execute the static side per
      // micro-batch; caching pins the postings scan in memory so
      // batch N>1 never re-lists/re-reads the parquet (half of the
      // r08 serve-ceiling diagnosis — the other half is the ADC
      // table below)
      val postings = s.read
        .schema("vec_id LONG, codes ARRAY<INT>, label LONG")
        .parquet(s"$tmp/postings")
        .cache()
      // per-QUERY ADC table (m×k segment distances, bit-identical
      // to the per-candidate expression it replaces — see
      // Quantize.adcTableExpr); the per-candidate hot path is then
      // m codegen'd lookups instead of m interpreted HOF folds
      val Qz = graft.operators.Quantize
      val served = routed
        .withColumn("adctab", Qz.adcTableExpr(col("qv"), cb))
        .join(postings, col("cell") === col("label"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"),
          struct(
            round(Qz.adcLookupExpr(col("adctab"), col("codes"), m), 6)
              .as("adist"),
            col("vec_id")).as("cand"))
        .groupBy("qid")
        .agg(min(col("cand")).as("best"))
      val out = runToMemory(s, served, "update")
      cleanup()
      // update mode re-emits per batch; the per-qid min is monotone
      // non-increasing, so a final min-fold is an exact dedupe
      val res = out.groupBy("qid").agg(min(col("best")).as("b"))
        .select(col("qid"), col("b.vec_id").as("nn_vec_id"),
          col("b.adist").as("adist"))
        .orderBy("qid")
        .localCheckpoint()
      postings.unpersist()
      res
    } finally Rm.rf(tmp)
  }

  /** w25/w27's oracle: codes, cells and per-query ADC re-derived for
    * all 20 streamed queries in SQL. `ldWhere` restricts which vectors
    * form the stored centroids — empty for w25 (full-corpus build),
    * the build-half predicate for w27 (appends must not move cell
    * geometry, so the probe decision reflects the stored index). */
  private def annServeOracle(ldWhere: String): String =
    """WITH e AS (
    |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    |  FROM embeddings),
    |lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
    |cb AS (SELECT vec_id AS j, v FROM e WHERE vec_id < 16),
    |ms AS (SELECT m FROM generate_series(0, 7) AS g(m)),
    |dists AS (
    |  SELECT e.vec_id, ms.m, cb.j,
    |    list_reduce(list_transform(generate_series(1, 8),
    |      i -> (e.v[ms.m * 8 + i] - cb.v[ms.m * 8 + i])
    |         * (e.v[ms.m * 8 + i] - cb.v[ms.m * 8 + i])),
    |      (x, y) -> x + y) AS d2
    |  FROM e, ms, cb),
    |mind AS (SELECT vec_id, m, MIN(d2) AS md
    |         FROM dists GROUP BY vec_id, m),
    |codes AS (
    |  SELECT d.vec_id, d.m, MIN(d.j) AS code
    |  FROM dists d JOIN mind USING (vec_id, m)
    |  WHERE d.d2 = mind.md
    |  GROUP BY d.vec_id, d.m),
    |ld AS (SELECT lab.label,
    |         unnest(generate_series(1, len(e.v))) AS i,
    |         unnest(list_transform(e.v,
    |           x -> CAST(round(x * 1000000) AS BIGINT))) AS x
    |       FROM e JOIN lab USING (vec_id)""".stripMargin +
      ldWhere + """),
    |cellc AS (SELECT label, list(cval ORDER BY i) AS cv FROM (
    |        SELECT label, i,
    |          CAST(SUM(x) AS BIGINT)::DOUBLE / (COUNT(*) * 1000000.0)
    |            AS cval
    |        FROM ld GROUP BY label, i)
    |      GROUP BY label),
    |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
    |cell AS (
    |  SELECT qid, label FROM (
    |    SELECT q.qid, cellc.label,
    |      row_number() OVER (PARTITION BY q.qid ORDER BY
    |        list_reduce(list_transform(generate_series(1, len(cv)),
    |          i -> cv[i] * qv[i]), (x, y) -> x + y) /
    |        (sqrt(list_reduce(list_transform(cv, x -> x * x),
    |           (x, y) -> x + y)) *
    |         sqrt(list_reduce(list_transform(qv, x -> x * x),
    |           (x, y) -> x + y))) DESC, cellc.label) AS rn
    |    FROM q, cellc)
    |  WHERE rn = 1),
    |adcq AS (
    |  SELECT q.qid, ms.m, cb.j,
    |    list_reduce(list_transform(generate_series(1, 8),
    |      i -> (q.qv[ms.m * 8 + i] - cb.v[ms.m * 8 + i])
    |         * (q.qv[ms.m * 8 + i] - cb.v[ms.m * 8 + i])),
    |      (x, y) -> x + y) AS d2
    |  FROM q, ms, cb),
    |approxq AS (
    |  SELECT a.qid, c.vec_id,
    |    list_reduce(list(a.d2 ORDER BY c.m), (x, y) -> x + y) AS adist
    |  FROM codes c JOIN adcq a ON a.m = c.m AND a.j = c.code
    |  GROUP BY a.qid, c.vec_id),
    |res AS (
    |  SELECT ap.qid, ap.vec_id, round(ap.adist, 6) AS adist,
    |    row_number() OVER (PARTITION BY ap.qid
    |      ORDER BY round(ap.adist, 6), ap.vec_id) AS rn
    |  FROM approxq ap
    |  JOIN lab ON lab.vec_id = ap.vec_id
    |  JOIN cell ON cell.qid = ap.qid AND cell.label = lab.label
    |  WHERE ap.vec_id <> ap.qid)
    |SELECT qid, vec_id AS nn_vec_id, adist
    |FROM res WHERE rn = 1 ORDER BY qid""".stripMargin

  val all: Seq[Q] = Seq(
    Q("w02_streaming_daily",
      "Event-time tumbling window computed by Structured Streaming " +
        "(complete mode, AvailableNow) — counts must equal the batch oracle.",
      (s, dir) => {
        // Millisecond truncation in to_json cannot move an event across a
        // (ms-aligned) midnight boundary, so day-window counts are exact.
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("ts"), col("event_type"))).as("value")),
          "ts TIMESTAMP, event_type STRING")
        val out = runToMemory(s,
          InferStream.windowedCounts(stream, "ts", "1 day", "1 hour"),
          "complete")
        cleanup()
        out.select(
            col("window_start").cast("date").as("day"),
            col("event_type"), col("n"))
          .orderBy("day", "event_type")
      },
      Some("""SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        | COUNT(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)),

    Q("w03_session_window",
      "Session windows (1h inactivity gap) per user — Spark's " +
        "session_window vs a gaps-and-islands oracle.",
      (s, dir) => events(s, dir)
        .groupBy(session_window(col("ts"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_sessions"),
          max("n_events").cast("long").as("max_session_events"),
          sum("n_events").cast("long").as("n_events_total"))
        .orderBy("user_id"),
      Some("""WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x),
        |z AS (SELECT user_id, sid, COUNT(*) AS n_events FROM y GROUP BY user_id, sid)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(MAX(n_events) AS BIGINT) AS max_session_events,
        |  CAST(SUM(n_events) AS BIGINT) AS n_events_total
        |FROM z GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("w04_stream_static_enrich",
      "Stream-static enrichment (InferStream.enrich): the event stream " +
        "is broadcast-joined per micro-batch to the customer→nation " +
        "dimension (stream side never shuffles for the join), then " +
        "aggregated per nation — counts must equal the batch join oracle.",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("event_id"), col("user_id"))).as("value")),
          "event_id LONG, user_id LONG")
        val dim = Tables.t(s, dir, "customer")
          .join(Tables.t(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("n_name"))
        val out = runToMemory(s,
          InferStream.enrich(stream, dim, col("user_id") === col("c_custkey"))
            .groupBy("n_name")
            .agg(count(lit(1)).as("n")),
          "complete")
        cleanup()
        out.orderBy("n_name")
      },
      Some("""SELECT n_name, COUNT(*) AS n
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    Q("w05_stream_stream_join",
      "Stream-stream interval join: the click stream joins the purchase " +
        "stream on user within [click, click+1h] — watermarks on BOTH " +
        "sides + the event-time range bound the join state (Spark drops " +
        "a buffered row once the other side's watermark passes its " +
        "range), so state is O(window), not O(stream). Pair counts must " +
        "equal the batch self-join oracle.",
      (s, dir) => {
        val ev = events(s, dir)
        // to_json truncates ts to milliseconds; the oracle compares at
        // ms precision too (epoch_us // 1000), so the engines agree.
        def side(et: String, u: String, t: String) = {
          val (stream, cleanup) = jsonStream(s,
            ev.filter(col("event_type") === et)
              .select(to_json(struct(col("user_id"), col("ts"))).as("value")),
            "user_id LONG, ts TIMESTAMP")
          (stream.select(col("user_id").as(u), col("ts").as(t))
            .withWatermark(t, "2 hours"), cleanup)
        }
        val (clicks, c1) = side("click", "cu", "cts")
        val (purchases, c2) = side("purchase", "pu", "pts")
        val out = runToMemory(s,
          clicks.join(purchases,
            col("cu") === col("pu") &&
              col("pts") >= col("cts") &&
              col("pts") <= col("cts") + expr("INTERVAL 1 HOUR")),
          "append")
        c1(); c2()
        out.groupBy(col("cu").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("""SELECT c.user_id, COUNT(*) AS n_pairs
        |FROM events c JOIN events p
        |  ON p.user_id = c.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND epoch_us(p.ts) // 1000 BETWEEN epoch_us(c.ts) // 1000
        |                            AND epoch_us(c.ts) // 1000 + 3600000
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),

    Q("w16_stream_stream_outer",
      "LEFT OUTER stream-stream interval join: matched pairs emit " +
        "immediately; an unmatched click emits its NULL-padded row only " +
        "once the joint watermark proves no purchase can still arrive " +
        "in its [click, click+1h] window — the state-eviction semantics " +
        "inner joins never exercise. Rows are restricted (in BOTH arms) " +
        "to clicks a safe margin older than min(max click ts, max " +
        "purchase ts) - 2h delay - 1h interval, where eviction is " +
        "guaranteed regardless of the strict-vs-inclusive boundary.",
      (s, dir) => {
        val ev = events(s, dir)
        val mx = ev.filter(col("event_type").isin("click", "purchase"))
          .groupBy("event_type").agg(max(unix_micros(col("ts"))).as("m"))
          .agg(min(col("m"))).head().getLong(0)
        // ms precision (the stream rides through to_json), 60s margin.
        val cutoffMs = mx / 1000L - (3L * 3600L + 60L) * 1000L
        def side(et: String, u: String, t: String) = {
          val (stream, cleanup) = jsonStream(s,
            ev.filter(col("event_type") === et)
              .select(to_json(struct(col("user_id"), col("ts"))).as("value")),
            "user_id LONG, ts TIMESTAMP")
          (stream.select(col("user_id").as(u), col("ts").as(t))
            .withWatermark(t, "2 hours"), cleanup)
        }
        val (clicks, c1) = side("click", "cu", "cts")
        val (purchases, c2) = side("purchase", "pu", "pts")
        val out = runToMemory(s,
          clicks.join(purchases,
            col("cu") === col("pu") &&
              col("pts") >= col("cts") &&
              col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"),
            "left_outer"),
          "append")
        c1(); c2()
        out.filter(unix_millis(col("cts")) <= cutoffMs)
          .groupBy(col("cu").as("user_id"))
          .agg(count(lit(1)).as("n_rows"),
            count(col("pu")).as("n_matched"),
            sum(when(col("pu").isNull, 1L).otherwise(0L)).as("n_unmatched"))
          .orderBy("user_id")
      },
      Some("""WITH mx AS (
        |  SELECT MIN(m) AS m FROM (
        |    SELECT event_type, MAX(epoch_us(ts)) AS m FROM events
        |    WHERE event_type IN ('click', 'purchase')
        |    GROUP BY event_type)),
        |c AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS cms FROM events, mx
        |  WHERE event_type = 'click'
        |    AND epoch_us(ts) // 1000 <= m // 1000 - (3*3600 + 60) * 1000),
        |p AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS pms FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id,
        |  COUNT(*) AS n_rows,
        |  COUNT(p.user_id) AS n_matched,
        |  CAST(SUM(CASE WHEN p.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched
        |FROM c LEFT JOIN p
        |  ON p.user_id = c.user_id
        | AND p.pms BETWEEN c.cms AND c.cms + 3600000
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),

    Q("w20_stream_stream_semi",
      "LEFT SEMI stream-stream interval join — the existence-check " +
        "shape (did this click convert within the hour?) without " +
        "materializing the purchase payload: each click row emits AT " +
        "MOST ONCE, on first match, and never carries right-side " +
        "columns, so the state store holds no matched-row bookkeeping " +
        "for re-emission. Matches emit on arrival (no eviction wait — " +
        "the asymmetry vs w16's outer join), so a full AvailableNow run " +
        "equals the batch EXISTS oracle with no boundary restriction; " +
        "watermarks still bound both sides' state like w05/w16.",
      (s, dir) => {
        val ev = events(s, dir)
        def side(et: String, u: String, t: String) = {
          val (stream, cleanup) = jsonStream(s,
            ev.filter(col("event_type") === et)
              .select(to_json(struct(col("user_id"), col("ts"))).as("value")),
            "user_id LONG, ts TIMESTAMP")
          (stream.select(col("user_id").as(u), col("ts").as(t))
            .withWatermark(t, "2 hours"), cleanup)
        }
        val (clicks, c1) = side("click", "cu", "cts")
        val (purchases, c2) = side("purchase", "pu", "pts")
        val out = runToMemory(s,
          clicks.join(purchases,
            col("cu") === col("pu") &&
              col("pts") >= col("cts") &&
              col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"),
            "left_semi"),
          "append")
        c1(); c2()
        out.groupBy(col("cu").as("user_id"))
          .agg(count(lit(1)).as("n_converted_clicks"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS cms FROM events
        |  WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS pms FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.user_id, COUNT(*) AS n_converted_clicks
        |FROM c
        |WHERE EXISTS (SELECT 1 FROM p
        |  WHERE p.user_id = c.user_id
        |    AND p.pms BETWEEN c.cms AND c.cms + 3600000)
        |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin)),

    Q("w06_streaming_perkey_schema",
      "Custom stateful streaming operator in the gate: per-key evolving " +
        "schema via flatMapGroupsWithState (PerKeySchema.evolve, " +
        "O(schema) state per key, an output row only on change) — the " +
        "streamed result must equal the batch per-key inference (p06).",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("event_type"), col("props"))).as("value")),
          "event_type STRING, props STRING")
        import s.implicits._
        val pairs = stream
          .select(col("event_type"), col("props")).as[(String, String)]
        val out = runToMemory(s,
          graft.streaming.PerKeySchema.evolve(pairs).toDF(), "update")
        cleanup()
        // evolve may emit several updates per key (one per schema
        // change across micro-batches). The final schema is the MERGE
        // of all of them — schema evolution is monotone in the JType
        // lattice — so fold them; max()/last() would pick an arbitrary
        // update, not the widest schema.
        // Top-level fields are emitted SORTED BY NAME: collect_list order
        // is nondeterministic across micro-batch interleavings, so
        // first-seen order is not reproducible here (unlike batch p06),
        // and the SQL oracle below derives the same sorted key set from
        // the data itself.
        val mergeSchemas = udf { (xs: Seq[Array[Byte]]) =>
          val codec = new graft.schema.JTypeCodec
          val merged = xs.map(codec.decode)
            .foldLeft(graft.schema.JNull: graft.schema.JType)(
              graft.schema.JType.merge(_, _, false))
          val st = graft.schema.JType.toDataType(merged).asInstanceOf[StructType]
          StructType(st.fields.sortBy(_.name)).json
        }
        out.groupBy(col("key").as("event_type"))
          .agg(mergeSchemas(collect_list("shape")).as("schema_json"))
          .orderBy("event_type")
      },
      // Oracle derived from the data (not a hardcoded schema constant):
      // the per-key schema on the STRING lattice is exactly the sorted
      // union of JSON object keys seen under that event_type, each typed
      // "string". Pinned generator invariant: props values are SCALARS
      // (a nested object/array value would widen the field type and
      // break this derivation loudly via hash mismatch).
      Some("""WITH ks AS (
        |  SELECT DISTINCT event_type, k FROM (
        |    SELECT event_type, unnest(json_keys(props)) AS k
        |    FROM events
        |    WHERE json_valid(props) AND json_type(props) = 'OBJECT'))
        |SELECT event_type,
        |  '{"type":"struct","fields":[' ||
        |  string_agg('{"name":"' || k ||
        |             '","type":"string","nullable":true,"metadata":{}}',
        |             ',' ORDER BY k) ||
        |  ']}' AS schema_json
        |FROM ks GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("w07_streaming_dedup",
      "WARNING — UNBOUNDED STATE, test-scale only: dropDuplicates keeps " +
        "one state entry per distinct key FOREVER (no eviction), so on " +
        "a real 100 TB stream this query would OOM its state store. Do " +
        "NOT copy this as a dedup template — use w14's " +
        "dropDuplicatesWithinWatermark, which is the same plan with " +
        "watermark-driven state eviction. w07 exists only because the " +
        "unwindowed form is exactly batch-equivalent and therefore " +
        "oracle-checkable: per-type distinct-user counts must equal the " +
        "batch DISTINCT oracle.",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("user_id"), col("event_type"))).as("value")),
          "user_id LONG, event_type STRING")
        val out = runToMemory(s,
          stream.dropDuplicates("user_id", "event_type"), "append")
        cleanup()
        out.groupBy("event_type")
          .agg(count(lit(1)).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("w08_stateful_running_max",
      "Custom stateful operator #2: per-user running (count, max) via " +
        "mapGroupsWithState (graft.streaming.RunningStats) — two numbers " +
        "of state per key, an updated snapshot per key per micro-batch. " +
        "Count and max are monotone, so folding the update stream with " +
        "max() recovers the final state, which must equal the batch " +
        "aggregate. (to_json/JSON double serialization is lossless — " +
        "Java shortest-roundtrip formatting.)",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("user_id"), col("value"))).as("value")),
          "user_id LONG, value DOUBLE")
        import s.implicits._
        val pairs = stream.select(col("user_id"), col("value"))
          .as[(Long, Double)]
        val out = runToMemory(s,
          graft.streaming.RunningStats.perKey(pairs)
            .toDF("user_id", "n_events", "max_value"),
          "update")
        cleanup()
        out.groupBy("user_id")
          .agg(
            max("n_events").cast("long").as("n_events"),
            max("max_value").as("max_value"))
          .orderBy("user_id")
      },
      Some("""SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("w09_fmgws_sessions",
      "Custom stateful operator #3: per-user sessionization (1h gap) " +
        "via flatMapGroupsWithState (graft.streaming.Sessionize) — one " +
        "row per SESSION, not per aggregate, emitted as a recomputed " +
        "list per micro-batch; the rows at each key's final state " +
        "revision are its complete session list, checked against the " +
        "batch gaps-and-islands oracle. Event times ride the stream as " +
        "epoch-micro longs (to_json would truncate timestamps to ms).",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(to_json(struct(
            col("user_id"), unix_micros(col("ts")).as("ts_us"))).as("value")),
          "user_id LONG, ts_us LONG")
        import s.implicits._
        val pairs = stream.select(col("user_id"), col("ts_us"))
          .as[(Long, Long)]
        val out = runToMemory(s,
          graft.streaming.Sessionize.sessions(pairs, 3600L * 1000000L)
            .toDF("user_id", "start_us", "end_us", "n_events", "rev"),
          "update")
        cleanup()
        // Keep each key's final (= highest-revision) emission: rev is the
        // events-folded count, monotone across that key's micro-batches.
        val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
        out.withColumn("_maxrev", max("rev").over(w))
          .where(col("rev") === col("_maxrev"))
          .select(col("user_id"), col("start_us"), col("end_us"),
            col("n_events"))
          .orderBy("user_id", "start_us")
      },
      Some("""WITH x AS (
        |  SELECT user_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 1 HOUR
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |y AS (SELECT user_id, ts,
        |        SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |                            ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM x)
        |SELECT user_id, epoch_us(MIN(ts)) AS start_us,
        |  epoch_us(MAX(ts)) AS end_us, COUNT(*) AS n_events
        |FROM y GROUP BY user_id, sid ORDER BY user_id, start_us""".stripMargin)),

    Q("w10_streaming_ingest_gate",
      "d34's production shape: NEW documents arrive AS A STREAM and are " +
        "gated in-flight — per micro-batch their MinHash bands " +
        "(codegen'd MinHashSigs on the stream side) broadcast-join the " +
        "STATIC old-corpus bucket table, a streaming per-doc aggregation " +
        "(update mode) flags collisions, and shingle-less docs are " +
        "restored by the batch-side left join (admitted). Same oracle " +
        "as d34. Stream-side text survives the NDJSON hop because " +
        "to_json escapes newlines.",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val isNew = col("doc_id") % 4 === 0
        val oldBuckets = graft.operators.Dedup
          .minhashBands(docs.filter(!isNew), "doc_id", "text")
          .select(col("j"), col("sig")).distinct()
          .withColumn("_h", lit(1))
        val (stream, cleanup) = jsonStream(s,
          docs.filter(isNew).select(
            to_json(struct(col("doc_id"), col("text"))).as("value")),
          "doc_id LONG, text STRING")
        val flags = graft.operators.Dedup
          .minhashBands(stream, "doc_id", "text")
          .join(oldBuckets, Seq("j", "sig"), "left_outer")
          .groupBy("doc_id")
          .agg(max(col("_h")).as("_hit"))
        val out = runToMemory(s, flags, "update")
        cleanup()
        docs.filter(isNew).select(col("doc_id"))
          .join(out, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("_hit") === 1, lit(false)).as("rejected"))
          .orderBy("doc_id")
      },
      Some(s"WITH ${LlmOps.neardupPairsCtes},\n" +
        """hit AS (
          |  SELECT DISTINCT a.doc_id
          |  FROM sig a JOIN sig b ON a.j = b.j AND a.m = b.m
          |  WHERE a.doc_id % 4 = 0 AND b.doc_id % 4 <> 0
          |    AND a.m IS NOT NULL)
          |SELECT d.doc_id, h.doc_id IS NOT NULL AS rejected
          |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
          |WHERE d.doc_id % 4 = 0 ORDER BY d.doc_id""".stripMargin)),

    Q("w13_append_watermark",
      "APPEND-mode windowed aggregation — the production shape for file " +
        "sinks (complete mode re-emits the whole result; append emits " +
        "each window ONCE, when the watermark passes its end). No-data " +
        "micro-batches advance the final watermark to max event time, " +
        "so every hour window except the live tail one is emitted; the " +
        "oracle applies the identical window_end <= max(ts) cutoff. " +
        "State is O(open windows), and emitted windows are immutable — " +
        "what makes exactly-once parquet/Kafka sinks possible.",
      (s, dir) => {
        // The oracle's window_end <= max(ts) cutoff matches Spark's
        // strict emission boundary + to_json ms truncation only while
        // max(ts) is NOT on (or within 1ms after) an hour boundary —
        // guard that assumption instead of trusting the data generator.
        val maxTs = events(s, dir).agg(max(col("ts"))).head().getTimestamp(0)
        require(maxTs.getTime % 3600000L > 1L,
          s"w13 assumes max(ts) is >1ms past an hour boundary; got $maxTs " +
            "— the strict-vs-inclusive emission edge would diverge")
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("ts"), col("event_type"))).as("value")),
          "ts TIMESTAMP, event_type STRING")
        val agg = stream.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("n"))
        val out = runToMemory(s, agg, "append")
        cleanup()
        out.orderBy("window_start", "event_type")
      },
      Some("""SELECT window_start, event_type, COUNT(*) AS n
        |FROM (SELECT date_trunc('hour', ts) AS window_start, event_type, ts
        |      FROM events)
        |GROUP BY window_start, event_type
        |HAVING window_start + INTERVAL 1 HOUR <= (SELECT max(ts) FROM events)
        |ORDER BY window_start, event_type""".stripMargin)),

    Q("w11_sliding_window",
      "OVERLAPPING (sliding) event-time windows — 2h size, 1h slide: " +
        "every event lands in exactly two windows, which Spark plans as " +
        "one Expand (window-per-row generate) before the stateful " +
        "aggregation, not a re-scan per offset. Complete mode keeps the " +
        "tail window comparable to the batch oracle (append mode would " +
        "withhold windows the final watermark hasn't closed).",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("ts"), col("event_type"))).as("value")),
          "ts TIMESTAMP, event_type STRING")
        val agg = stream
          .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(col("window.start").as("window_start"),
            col("event_type"), col("n"))
        val out = runToMemory(s, agg, "complete")
        cleanup()
        out.orderBy("window_start", "event_type")
      },
      Some("""SELECT window_start, event_type, COUNT(*) AS n
        |FROM (SELECT date_trunc('hour', ts) - o * INTERVAL 1 HOUR AS window_start,
        |             event_type
        |      FROM events, LATERAL unnest([0, 1]) t(o))
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin)),

    Q("w14_dedup_within_watermark",
      "Streaming dedup with BOUNDED state — dropDuplicatesWithinWatermark " +
        "expires a key's dedup state once the watermark passes it (w07's " +
        "dropDuplicates keeps every key forever: a 100 TB stream would " +
        "OOM its state store). With a delay spanning this finite input " +
        "the emitted key set equals exact DISTINCT; only the key columns " +
        "are kept, because which duplicate arrives first is partition-" +
        "order noise.",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(to_json(struct(
            col("ts"), col("user_id"), col("event_type"))).as("value")),
          "ts TIMESTAMP, user_id LONG, event_type STRING")
        val dd = stream.withWatermark("ts", "365 days")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select(col("user_id"), col("event_type"))
        val out = runToMemory(s, dd, "append")
        cleanup()
        out.orderBy("user_id", "event_type")
      },
      Some("""SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin)),

    Q("w15_transform_with_state",
      "Spark 4 arbitrary-state v2: transformWithState (graft.streaming." +
        "TwsRunningStats) — named ValueState with its own encoder in a " +
        "RocksDB state store (changelog-checkpointed, state scales past " +
        "executor memory), same per-user running (count, max) semantics " +
        "as w08's mapGroupsWithState so both share the batch oracle. " +
        "The provider conf is set for the run and restored after.",
      (s, dir) => {
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val (stream, cleanup) = jsonStream(s,
            events(s, dir).select(
              to_json(struct(col("user_id"), col("value"))).as("value")),
            "user_id LONG, value DOUBLE")
          import s.implicits._
          val pairs = stream.select(col("user_id"), col("value"))
            .as[(Long, Double)]
          val out = runToMemory(s,
            graft.streaming.TwsRunningStats.perKey(pairs)
              .toDF("user_id", "n_events", "max_value"),
            "update")
          cleanup()
          out.groupBy("user_id")
            .agg(
              max("n_events").cast("long").as("n_events"),
              max("max_value").as("max_value"))
            .orderBy("user_id")
            .localCheckpoint()
        } finally prevProv match {
          case Some(v) => s.conf.set(provKey, v)
          case None    => s.conf.unset(provKey)
        }
      },
      Some("""SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("w19_tws_state_ttl",
      "State TTL on transformWithState (graft.streaming.TwsTtl) — the " +
        "v2 API's retention knob: each key's ValueState carries a " +
        "processing-time expiration maintained by the RocksDB store's " +
        "TTL machinery, so unbounded keyspaces stay finite WITHOUT the " +
        "watermark coupling of dropDuplicatesWithinWatermark (retention " +
        "is a per-state-variable policy). The 10-minute TTL deliberately " +
        "exceeds the run's wall clock, so nothing expires mid-test and " +
        "the result stays exactly batch-equivalent for the oracle; at " +
        "scale the same query sets minutes-to-hours. Run with an " +
        "explicit stop-after-input-consumed loop: in ProcessingTime " +
        "mode the operator always reports shouldRunAnotherBatch, so an " +
        "AvailableNow trigger would re-fire empty micro-batches forever " +
        "(that termination difference IS the processing-time contract — " +
        "timers/TTL may still need to fire after the data is done).",
      (s, dir) => {
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val expected = events(s, dir).count()
          val (stream, cleanup) = jsonStream(s,
            events(s, dir).select(
              to_json(struct(col("user_id"), col("value"))).as("value")),
            "user_id LONG, value DOUBLE")
          import s.implicits._
          val pairs = stream.select(col("user_id"), col("value"))
            .as[(Long, Double)]
          val qname = s"graft_w19_${System.nanoTime()}"
          // recentProgress is a bounded ring (~100 entries) and the
          // 100 ms trigger emits empty-batch progress every tick, so
          // the one data-bearing batch could rotate out before a slow
          // poll observes it. Accumulate consumed rows in a listener
          // instead — registered BEFORE start() so no event is missed.
          val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                if (e.progress.name == qname) {
                  consumed.addAndGet(e.progress.numInputRows); ()
                }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
          s.streams.addListener(listener)
          try {
            val q = graft.streaming.TwsTtl.perKey(pairs)
              .toDF("user_id", "n_events", "max_value")
              .writeStream.format("memory").queryName(qname)
              .outputMode("update")
              .trigger(Trigger.ProcessingTime("100 milliseconds"))
              .start()
            // The file source reads every available file in the first
            // batch (no maxFilesPerTrigger); poll until that batch's
            // rows are through the operator, then stop.
            val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
            while (consumed.get() < expected &&
                q.exception.isEmpty && System.nanoTime() < deadline)
              Thread.sleep(100)
            // A failed stream must surface its own error, not a
            // misleading consumption-timeout message.
            q.exception.foreach(throw _)
            require(consumed.get() >= expected,
              s"w19: stream did not consume $expected rows within 120s")
            q.stop()
            q.awaitTermination()
          } finally s.streams.removeListener(listener)
          cleanup()
          s.table(qname)
            .groupBy("user_id")
            .agg(
              max("n_events").cast("long").as("n_events"),
              max("max_value").as("max_value"))
            .orderBy("user_id")
            .localCheckpoint()
        } finally prevProv match {
          case Some(v) => s.conf.set(provKey, v)
          case None    => s.conf.unset(provKey)
        }
      },
      Some("""SELECT user_id, COUNT(*) AS n_events, MAX(value) AS max_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("w17_foreachbatch_upsert",
      "Streaming MERGE/upsert sink via foreachBatch: each micro-batch " +
        "upserts latest-event-per-user into a parquet table (read-" +
        "merge-rewrite — the Delta-less CDC apply; q40 is the batch " +
        "MERGE). maxFilesPerTrigger chops the input into several " +
        "batches so the upsert path (insert new keys + replace older " +
        "rows) actually exercises; the argmax is associative, so the " +
        "final table equals the batch latest-per-user result no matter " +
        "how the stream was chopped. The merged state is materialized " +
        "(localCheckpoint) BEFORE overwriting the directory it was " +
        "read from.",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-w17").toString
        events(s, dir)
          .select(to_json(struct(col("user_id"),
            unix_micros(col("ts")).as("ts_us"),
            col("event_id"), col("value"))).as("value"))
          .repartition(16)
          .write.mode("overwrite").text(s"$tmp/in")
        val stream = s.readStream
          .schema("user_id LONG, ts_us LONG, event_id LONG, value DOUBLE")
          .option("maxFilesPerTrigger", "4")
          .json(s"$tmp/in")
        val tbl = s"$tmp/tbl"
        val q = stream.writeStream
          .foreachBatch { (b: DataFrame, _: Long) =>
            // First batch: the sink table doesn't exist yet. Only the
            // path-missing case may substitute empty state — any other
            // read failure must propagate, or accumulated upsert state
            // would be silently discarded.
            val cur =
              if (!java.nio.file.Files.exists(java.nio.file.Paths.get(tbl)))
                b.limit(0)
              else s.read.parquet(tbl)
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("user_id")
              .orderBy(col("ts_us").desc, col("event_id").desc)
            val merged = cur.unionByName(b)
              .withColumn("rk", row_number().over(w))
              .filter(col("rk") === 1).drop("rk")
              .localCheckpoint()
            merged.write.mode("overwrite").parquet(tbl)
            ()
          }
          .option("checkpointLocation", s"$tmp/cp")
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        val res = s.read.parquet(tbl)
          .select(col("user_id"), col("event_id"), col("value"))
          .orderBy("user_id")
          .localCheckpoint()
        Rm.rf(tmp)
        res
      },
      Some("""SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events) WHERE rk = 1 ORDER BY user_id""".stripMargin)),

    Q("w18_tws_liststate_topk",
      "transformWithState with TWO named state variables (ListState " +
        "top-3 + ValueState counter, graft.streaming.TwsTopK) — the " +
        "state-composition surface of the v2 API beyond w15's single " +
        "tuple. State is O(k) per key forever; the count is monotone, " +
        "so each key's final snapshot is its max-count emission, " +
        "checked against the batch per-user top-3 oracle.",
      (s, dir) => {
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val (stream, cleanup) = jsonStream(s,
            events(s, dir).select(
              to_json(struct(col("user_id"), col("value"))).as("value")),
            "user_id LONG, value DOUBLE")
          import s.implicits._
          val pairs = stream.select(col("user_id"), col("value"))
            .as[(Long, Double)]
          val out = runToMemory(s,
            graft.streaming.TwsTopK.perKey(pairs, k = 3)
              .toDF("user_id", "n_events", "topk"),
            "update")
          cleanup()
          val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id")
          out.withColumn("_maxn", max("n_events").over(w))
            .where(col("n_events") === col("_maxn"))
            // get() (0-based) is NULL out-of-bounds even under ANSI,
            // unlike element_at, for keys with fewer than 3 events.
            .select(col("user_id"), col("n_events").cast("long").as("n_events"),
              get(col("topk"), lit(0)).as("top1"),
              get(col("topk"), lit(1)).as("top2"),
              get(col("topk"), lit(2)).as("top3"))
            .orderBy("user_id")
            .localCheckpoint()
        } finally prevProv match {
          case Some(v) => s.conf.set(provKey, v)
          case None    => s.conf.unset(provKey)
        }
      },
      Some("""WITH r AS (
        |  SELECT user_id, value,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY value DESC) AS rk,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n_events
        |  FROM events)
        |SELECT user_id, CAST(MAX(n_events) AS BIGINT) AS n_events,
        |  MAX(CASE WHEN rk = 1 THEN value END) AS top1,
        |  MAX(CASE WHEN rk = 2 THEN value END) AS top2,
        |  MAX(CASE WHEN rk = 3 THEN value END) AS top3
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("w12_streaming_file_sink",
      "Streaming PARQUET FILE SINK with a checkpoint: stateless filter + " +
        "project streams to an append-mode parquet directory (the " +
        "exactly-once lakehouse landing pattern — file-sink manifest + " +
        "checkpoint make replays idempotent), then the landed files are " +
        "read back in batch and aggregated. The double `value` is " +
        "rounded into an exact DECIMAL before the sink so the final sum " +
        "is file-layout- and order-independent.",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("ts"), col("event_type"), col("value"))).as("value")),
          "ts TIMESTAMP, event_type STRING, value DOUBLE")
        val tmp = java.nio.file.Files.createTempDirectory("graft-w12").toString
        val q = stream.filter(col("value") > 50.0)
          .select(col("event_type"),
            round(col("value"), 3)
              .cast(org.apache.spark.sql.types.DecimalType(18, 3)).as("v"))
          .writeStream.format("parquet")
          .option("path", s"$tmp/out")
          .option("checkpointLocation", s"$tmp/ck")
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        val res = s.read.parquet(s"$tmp/out")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), sum("v").cast("double").as("sum_v"))
          .orderBy("event_type")
          .localCheckpoint()
        cleanup()
        Rm.rf(tmp)
        res
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE) AS sum_v
        |FROM events WHERE value > 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("w21_state_reader",
      "Spark 4 State Data Source (format 'statestore'): a streaming " +
        "aggregation runs to completion against an explicit " +
        "checkpoint, then the operator's STATE STORE itself is " +
        "batch-queried — the ops surface for stateful pipelines " +
        "(audit what a store holds without replaying the stream; at " +
        "scale this is how a misbehaving stateful job is debugged and " +
        "how state is bulk-exported). The per-key aggregation buffers " +
        "read back from the store must equal the batch GROUP BY over " +
        "the same input — exactly what the oracle computes.",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-w21").toString
        try {
          events(s, dir)
            .select(to_json(struct(col("user_id"), col("event_type")))
              .as("value"))
            .write.mode("overwrite").text(s"$tmp/in")
          val stream = s.readStream
            .schema("user_id BIGINT, event_type STRING").json(s"$tmp/in")
          val q = stream.groupBy("event_type")
            .agg(count(lit(1)).as("n"), sum("user_id").as("sum_uid"))
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          s.read.format("statestore").load(s"$tmp/ckpt")
            .select(
              col("key.event_type").as("event_type"),
              col("value.count").as("n"),
              col("value.sum").cast("long").as("sum_uid"))
            .orderBy("event_type")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("w22_multi_sink_fanout",
      "foreachBatch multi-sink fan-out with IDEMPOTENT writes — the " +
        "exactly-once recipe the Structured Streaming guide prescribes " +
        "for sinks without transactional support: every micro-batch " +
        "lands in TWO parquet sinks under a batchId-keyed directory " +
        "(mode=overwrite), so a retried batch REPLACES its own " +
        "partition instead of appending duplicates. After AvailableNow " +
        "completion the sinks must agree with each other (require) and " +
        "with the batch oracle (the gate). One streaming pass, two " +
        "materializations — the fan-out shape of a bronze/silver " +
        "split.",
      (s, dir) => {
        val (stream, cleanup) = jsonStream(s,
          events(s, dir).select(
            to_json(struct(col("user_id"), col("event_type"), col("value")))
              .as("value")),
          "user_id BIGINT, event_type STRING, value DOUBLE")
        val tmp = java.nio.file.Files.createTempDirectory("graft-w22").toString
        try {
          val q = stream.filter(col("value") > 25.0)
            .writeStream
            .foreachBatch { (df: org.apache.spark.sql.Dataset[
                org.apache.spark.sql.Row], id: Long) =>
              df.write.mode("overwrite").parquet(s"$tmp/a/batch_id=$id")
              df.write.mode("overwrite").parquet(s"$tmp/b/batch_id=$id")
              ()
            }
            .option("checkpointLocation", s"$tmp/ckpt")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          val a = s.read.parquet(s"$tmp/a")
          val b = s.read.parquet(s"$tmp/b")
          val (na, nb) = (a.count(), b.count())
          require(na == nb,
            s"w22: fan-out sinks disagree ($na vs $nb rows)")
          a.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(round(col("value"), 3).cast(
                org.apache.spark.sql.types.DecimalType(18, 3)))
                .cast("double").as("sum_v"))
            .orderBy("event_type")
            .localCheckpoint()
        } finally { cleanup(); Rm.rf(tmp) }
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(CAST(round(value, 3) AS DECIMAL(18,3))) AS DOUBLE) AS sum_v
        |FROM events WHERE value > 25
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("w23_checkpoint_recovery",
      "Exactly-once across a RESTART — the recovery contract that " +
        "makes streaming trustworthy in production: half the input " +
        "runs to completion (AvailableNow) into a parquet sink with a " +
        "checkpoint; the other half lands in the source AFTER the " +
        "first query stopped; a SECOND query starts from the SAME " +
        "checkpoint and processes ONLY the new files (the offset log " +
        "remembers the first half). The combined sink must equal the " +
        "batch aggregate over everything — rows lost on restart or " +
        "replayed twice would both break the hash.",
      (s, dir) => {
        val tmp = java.nio.file.Files.createTempDirectory("graft-w23").toString
        try {
          val ev = events(s, dir).select(col("event_id"),
            to_json(struct(col("event_id"), col("event_type"))).as("value"))
          ev.filter(col("event_id") % 2 === 0).select("value")
            .write.mode("overwrite").text(s"$tmp/in/half1")
          def runOnce(): Unit = {
            val q = s.readStream
              .schema("event_id BIGINT, event_type STRING")
              .json(s"$tmp/in/*")
              .writeStream.format("parquet")
              .option("path", s"$tmp/out")
              .option("checkpointLocation", s"$tmp/ckpt")
              .outputMode("append")
              .trigger(Trigger.AvailableNow())
              .start()
            q.awaitTermination()
          }
          runOnce()
          ev.filter(col("event_id") % 2 =!= 0).select("value")
            .write.mode("overwrite").text(s"$tmp/in/half2")
          runOnce()
          s.read.parquet(s"$tmp/out")
            .groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum("event_id").cast("long").as("sum_id"),
              countDistinct("event_id").as("n_distinct"))
            .orderBy("event_type")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some("""SELECT event_type, COUNT(*) AS n,
        | CAST(SUM(event_id) AS BIGINT) AS sum_id,
        | CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    Q("w24_streaming_neardup_gate",
      "Streaming NEAR-dup ingest admission (VERDICT r07 #4) — the " +
        "production pipeline shape w10 (static-corpus gate) and d34 " +
        "(incremental batch) lead to: documents stream in, each doc's " +
        "MinHash bands (codegen'd MinHashSigs) key a transformWithState " +
        "store by BAND BUCKET (band, signature), and a TTL'd " +
        "ValueState[Long] per bucket remembers the first doc id " +
        "registered (graft.streaming.TwsLshGate, RocksDB provider). A " +
        "doc is rejected iff any of its buckets was already owned by a " +
        "smaller id — the same decision the batch banded-LSH makes, so " +
        "the oracle is the batch LSH self-join. Shingle-less docs emit " +
        "no bands and are admitted via the batch-side left join. " +
        "ProcessingTime trigger + consumed-rows listener (the w19 " +
        "discipline: TTL requires processing-time mode, where " +
        "AvailableNow would re-fire forever).",
      (s, dir) => {
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val docs = Tables.t(s, dir, "documents")
          val expected = docs.count()
          val (stream, cleanup) = jsonStream(s,
            docs.select(
              to_json(struct(col("doc_id"), col("text"))).as("value")),
            "doc_id LONG, text STRING")
          import s.implicits._
          val bands = graft.operators.Dedup
            .minhashBands(stream, "doc_id", "text")
            .select(col("j").cast("int"), col("sig").cast("long"),
              col("doc_id").cast("long"))
            .as[(Int, Long, Long)]
          val qname = s"graft_w24_${System.nanoTime()}"
          val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
          val dataBatches = new java.util.concurrent.atomic.AtomicLong(0L)
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                if (e.progress.name == qname) {
                  if (e.progress.numInputRows > 0) dataBatches.incrementAndGet()
                  consumed.addAndGet(e.progress.numInputRows); ()
                }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
          s.streams.addListener(listener)
          try {
            val q = graft.streaming.TwsLshGate.perBucket(bands)
              .toDF("doc_id", "hit")
              .writeStream.format("memory").queryName(qname)
              .outputMode("update")
              .trigger(Trigger.ProcessingTime("100 milliseconds"))
              .start()
            val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
            while (consumed.get() < expected &&
                q.exception.isEmpty && System.nanoTime() < deadline)
              Thread.sleep(100)
            q.exception.foreach(throw _)
            require(consumed.get() >= expected,
              s"w24: stream did not consume $expected rows within 120s")
            q.stop()
            q.awaitTermination()
            // this oracle (batch LSH self-join on doc id) is only the
            // gate's semantics when everything arrives in ONE data
            // batch — assert that assumption instead of silently
            // relying on it (ADVICE r08); w26 oracles the multi-batch
            // first-writer-wins regime
            require(dataBatches.get() == 1,
              s"w24: expected a single data batch, saw ${dataBatches.get()}")
          } finally s.streams.removeListener(listener)
          cleanup()
          val gate = s.table(qname)
            .groupBy("doc_id").agg(max(col("hit")).as("rejected"))
          docs.select(col("doc_id"))
            .join(gate, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("rejected"), lit(false)).as("rejected"))
            .orderBy("doc_id")
            .localCheckpoint()
        } finally prevProv match {
          case Some(v) => s.conf.set(provKey, v)
          case None    => s.conf.unset(provKey)
        }
      },
      Some(s"WITH ${LlmOps.neardupPairsCtes},\n" +
        """hit AS (
          |  SELECT DISTINCT a.doc_id
          |  FROM sig a JOIN sig b
          |    ON a.j = b.j AND a.m = b.m AND b.doc_id < a.doc_id
          |  WHERE a.m IS NOT NULL)
          |SELECT d.doc_id, h.doc_id IS NOT NULL AS rejected
          |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
          |ORDER BY d.doc_id""".stripMargin)),

    Q("w25_streaming_ann_serve",
      "ONLINE vector-search serving — the streaming counterpart to " +
        "s15's batch serve path: query vectors arrive as a stream and " +
        "are answered from the PERSISTED AnnIndex tables. Cell " +
        "routing is a pure per-row expression (stored centroids " +
        "collected once and baked as literals — the probe decision " +
        "needs no shuffle and no per-query job), the routed stream " +
        "joins the STORED postings stream-static on the cell " +
        "(stateless), the PQ approximate distance is computed from " +
        "the stored codes against the stored codebook as a codegen'd " +
        "expression (identical arithmetic to s11's ADC table: per-" +
        "slot zip_with fold + slot-order sum), and the per-query " +
        "nearest neighbor is ONE streaming min-aggregation on " +
        "struct(adist, vec_id) — ties break exactly like s11. The " +
        "oracle re-derives codes, cells and per-query ADC for all 20 " +
        "streamed queries in SQL.",
      (s, dir) => annServeStreamed(s, dir, (emb, tmp) =>
        graft.operators.AnnIndex.write(
          emb, "vec_id", "embedding", "label", m = 8, k = 16, tmp)),
      Some(annServeOracle(""))),

    Q("w27_streaming_ann_serve_appended",
      "Online serving from an APPENDED-and-COMPACTED index — the full " +
        "persisted-index lifecycle (build s15, append s16, compact " +
        "s17) closed under the STREAMING gate: the index is built " +
        "from the first half of the corpus, the second half is " +
        "appended against the stored codebook, AnnIndex.compact " +
        "rewrites the fragmented cells, and then query vectors stream " +
        "in and are answered from the resulting tables by exactly " +
        "w25's serve core (literal-baked centroid routing, cached " +
        "stream-static postings join, per-query ADC table, one " +
        "streaming min-aggregation). The oracle is w25's with one " +
        "change: stored centroids come from the BUILD half only " +
        "(appends must not move cell geometry), so the per-query cell " +
        "decision is taken on build-half centroids while every " +
        "posting — built, appended, compacted — must be servable.",
      (s, dir) => annServeStreamed(s, dir, { (emb, tmp) =>
        val cut = emb.count() / 2
        graft.operators.AnnIndex.write(
          emb.filter(col("vec_id") < cut),
          "vec_id", "embedding", "label", m = 8, k = 16, tmp)
        graft.operators.AnnIndex.append(
          emb.filter(col("vec_id") >= cut),
          "vec_id", "embedding", "label", tmp)
        val compacted = graft.operators.AnnIndex.compact(s, tmp)
        require(compacted.nonEmpty,
          "w27: the append left no fragmented cell to compact")
      }),
      Some(annServeOracle(
        "\n       WHERE e.vec_id < (SELECT COUNT(*) // 2 FROM embeddings)"))),

    Q("w26_streaming_neardup_gate_multibatch",
      "The w24 gate's TRUE cross-batch semantics, oracled (VERDICT r08 " +
        "#1): FIRST-WRITER-WINS across micro-batches. Documents arrive " +
        "in three separate data batches in an order DIFFERENT from " +
        "doc-id order (wave = doc_id % 3; each wave is one NDJSON file " +
        "ATOMIC_MOVE'd into the watched dir only after the previous " +
        "wave is fully consumed, so wave boundaries ARE batch " +
        "boundaries), which means a smaller doc id can arrive AFTER a " +
        "larger one that already owns a shared band bucket — and is " +
        "then the one rejected. An online ingest gate cannot retract " +
        "an admission it already made, so earliest-arrival ownership " +
        "(intra-batch ties to the smallest id) is the only consistent " +
        "decision; the oracle encodes exactly that predicate: rejected " +
        "iff some other doc in a shared bucket has an earlier wave, or " +
        "the same wave and a smaller id.",
      (s, dir) => {
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w26").toString
        try {
          val docs = Tables.t(s, dir, "documents")
          // one NDJSON file per wave, collected up front; staged OUTSIDE
          // the watched dir and moved in atomically so the live query
          // can never list a half-written file
          val waveLines: Seq[Array[String]] = (0 until 3).map { w =>
            docs.filter(col("doc_id") % 3 === w)
              .select(to_json(struct(col("doc_id"), col("text"))))
              .collect().map(_.getString(0))
          }
          val in = java.nio.file.Paths.get(tmp, "in")
          val stage = java.nio.file.Paths.get(tmp, "stage")
          java.nio.file.Files.createDirectories(in)
          java.nio.file.Files.createDirectories(stage)
          import s.implicits._
          val bands = graft.operators.Dedup
            .minhashBands(
              s.readStream.schema("doc_id LONG, text STRING")
                .json(in.toString),
              "doc_id", "text")
            .select(col("j").cast("int"), col("sig").cast("long"),
              col("doc_id").cast("long"))
            .as[(Int, Long, Long)]
          val qname = s"graft_w26_${System.nanoTime()}"
          val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
          val dataBatches = new java.util.concurrent.atomic.AtomicLong(0L)
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                if (e.progress.name == qname) {
                  if (e.progress.numInputRows > 0) dataBatches.incrementAndGet()
                  consumed.addAndGet(e.progress.numInputRows); ()
                }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
          s.streams.addListener(listener)
          try {
            val q = graft.streaming.TwsLshGate.perBucket(bands)
              .toDF("doc_id", "hit")
              .writeStream.format("memory").queryName(qname)
              .outputMode("update")
              .trigger(Trigger.ProcessingTime("100 milliseconds"))
              .start()
            var cum = 0L
            waveLines.zipWithIndex.foreach { case (lines, w) =>
              val f = stage.resolve(s"wave$w.json")
              java.nio.file.Files.write(f,
                lines.mkString("\n").getBytes(
                  java.nio.charset.StandardCharsets.UTF_8))
              java.nio.file.Files.move(f, in.resolve(s"wave$w.json"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              cum += lines.length
              val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
              while (consumed.get() < cum && q.exception.isEmpty &&
                  System.nanoTime() < deadline)
                Thread.sleep(100)
              q.exception.foreach(throw _)
              require(consumed.get() >= cum,
                s"w26: wave $w not consumed ($cum rows) within 120s")
            }
            q.stop()
            q.awaitTermination()
            val nonEmpty = waveLines.count(_.nonEmpty)
            require(dataBatches.get() >= nonEmpty,
              s"w26: expected >= $nonEmpty data batches (one per wave), " +
                s"saw ${dataBatches.get()} — waves collapsed into one " +
                "batch, so the multi-batch regime was not exercised")
          } finally s.streams.removeListener(listener)
          val gate = s.table(qname)
            .groupBy("doc_id").agg(max(col("hit")).as("rejected"))
          docs.select(col("doc_id"))
            .join(gate, Seq("doc_id"), "left")
            .select(col("doc_id"),
              coalesce(col("rejected"), lit(false)).as("rejected"))
            .orderBy("doc_id")
            .localCheckpoint()
        } finally {
          prevProv match {
            case Some(v) => s.conf.set(provKey, v)
            case None    => s.conf.unset(provKey)
          }
          Rm.rf(tmp)
        }
      },
      Some(s"WITH ${LlmOps.neardupPairsCtes},\n" +
        """hit AS (
          |  SELECT DISTINCT a.doc_id
          |  FROM sig a JOIN sig b
          |    ON a.j = b.j AND a.m = b.m AND b.doc_id <> a.doc_id
          |  WHERE a.m IS NOT NULL
          |    AND (b.doc_id % 3 < a.doc_id % 3
          |      OR (b.doc_id % 3 = a.doc_id % 3 AND b.doc_id < a.doc_id)))
          |SELECT d.doc_id, h.doc_id IS NOT NULL AS rejected
          |FROM documents d LEFT JOIN hit h ON d.doc_id = h.doc_id
          |ORDER BY d.doc_id""".stripMargin)),

    Q("w28_streaming_persisted_store_gate",
      "The d62 persisted-store dedup lifecycle under the STREAMING " +
        "gate — the nightly-crawl loop as a live ingest: three waves " +
        "of documents arrive as separate micro-batches (wave = doc_id " +
        "% 3, atomically-moved NDJSON files with a consumption barrier " +
        "between waves, the w26 machinery); inside foreachBatch each " +
        "batch is gated by a bucket-equi join against the store AS " +
        "READ FROM DISK, and only admitted docs' band buckets are " +
        "appended back before the next wave may arrive. The store on " +
        "disk IS the operator state — it is data, not checkpoint, so " +
        "it survives restarts and is shared with the batch pipeline " +
        "by construction (the same files d62 would read). Wave 0 " +
        "bootstraps an empty store (all admitted); the oracle is " +
        "d62's verbatim — same store semantics, different arrival " +
        "mechanism.",
      (s, dir) => {
        val docs = Tables.t(s, dir, "documents")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w28").toString
        try {
          val waveLines: Seq[Array[String]] = (0 until 3).map { w =>
            docs.filter(col("doc_id") % 3 === w)
              .select(to_json(struct(col("doc_id"), col("text"))))
              .collect().map(_.getString(0))
          }
          val in = java.nio.file.Paths.get(tmp, "in")
          val stage = java.nio.file.Paths.get(tmp, "stage")
          java.nio.file.Files.createDirectories(in)
          java.nio.file.Files.createDirectories(stage)
          val store = s"$tmp/store"
          val flagsDir = s"$tmp/flags"
          // seed an EMPTY store so the first batch's gate has a dir to
          // read (same schema as every later append)
          graft.operators.Dedup
            .minhashBands(docs.filter(lit(false)), "doc_id", "text")
            .select(col("j"), col("sig"))
            .write.mode("overwrite").parquet(store)
          val qname = s"graft_w28_${System.nanoTime()}"
          // barrier on completed NON-EMPTY BATCHES, not on row counts:
          // a foreachBatch body that runs several actions re-scans the
          // batch source per action, and numInputRows counts the
          // re-reads (measured 3x here) — a row barrier passes early
          // and collapses the waves into one batch. A progress event
          // fires only after its batch's foreachBatch completed, so
          // nonEmptyBatches > w implies wave w's store append is
          // durable before wave w+1 moves in.
          val nonEmptyBatches = new java.util.concurrent.atomic.AtomicLong(0L)
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                if (e.progress.name == qname && e.progress.numInputRows > 0) {
                  nonEmptyBatches.incrementAndGet(); ()
                }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
          s.streams.addListener(listener)
          try {
            val q = s.readStream.schema("doc_id LONG, text STRING")
              .json(in.toString)
              .writeStream.queryName(qname)
              .foreachBatch { (batch: DataFrame, _: Long) =>
                // the batch feeds three consumers (bands, flags join,
                // flags dump) — pin it so the source isn't re-scanned
                // per action
                batch.persist()
                try {
                  val nb = graft.operators.Dedup
                    .minhashBands(batch, "doc_id", "text")
                    .localCheckpoint()
                  val hit = nb
                    .join(s.read.parquet(store), Seq("j", "sig"))
                    .select(col("doc_id")).distinct()
                  val fl = batch.select(col("doc_id"))
                    .join(hit.withColumn("_h", lit(1)), Seq("doc_id"), "left")
                    .select(col("doc_id"),
                      coalesce(col("_h") === 1, lit(false)).as("rejected"))
                    // materialized BEFORE the append: the gate decision
                    // is taken against the store as this batch found it
                    .localCheckpoint()
                  nb.join(fl.filter(!col("rejected")),
                      Seq("doc_id"), "left_semi")
                    .select(col("j"), col("sig")).distinct()
                    .write.mode("append").parquet(store)
                  fl.write.mode("append").parquet(flagsDir)
                } finally batch.unpersist()
                ()
              }
              .trigger(Trigger.ProcessingTime("100 milliseconds"))
              .start()
            waveLines.zipWithIndex.foreach { case (lines, w) =>
              val f = stage.resolve(s"wave$w.json")
              java.nio.file.Files.write(f,
                lines.mkString("\n").getBytes(
                  java.nio.charset.StandardCharsets.UTF_8))
              java.nio.file.Files.move(f, in.resolve(s"wave$w.json"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
              while (nonEmptyBatches.get() <= w && q.exception.isEmpty &&
                  System.nanoTime() < deadline)
                Thread.sleep(100)
              q.exception.foreach(throw _)
              require(nonEmptyBatches.get() > w,
                s"w28: wave $w not processed within 120s")
            }
            q.stop()
            q.awaitTermination()
            require(nonEmptyBatches.get() == 3,
              s"w28: expected exactly 3 data batches (one per wave), " +
                s"saw ${nonEmptyBatches.get()}")
          } finally s.streams.removeListener(listener)
          s.read.parquet(flagsDir)
            .filter(col("doc_id") % 3 =!= 0)
            .orderBy("doc_id")
            .localCheckpoint()
        } finally Rm.rf(tmp)
      },
      Some(LlmOps.persistedStoreOracle)),

    Q("w29_streaming_observe_metrics",
      "q85's in-job observability on a STREAM: Dataset.observe " +
        "metrics — row count, click count, exact DECIMAL value total " +
        "— accumulate on the streaming query's own tasks and surface " +
        "per micro-batch through StreamingQueryProgress" +
        ".observedMetrics; no second scan and no extra state " +
        "operator, the production way to watch data quality ride an " +
        "ingest stream. The input is chopped into several micro-" +
        "batches (repartition 16 + maxFilesPerTrigger 4) so the " +
        "additivity actually carries weight: counts and DECIMAL sums " +
        "add exactly across batches, the driver folds each batch's " +
        "observed row with BigDecimal addition, and the folded totals " +
        "are hash-gated against the batch aggregates in SQL.",
      (s, dir) => {
        import s.implicits._
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w29").toString
        try {
          events(s, dir)
            .select(to_json(struct(col("event_type"), col("value")))
              .as("value"))
            .repartition(16)
            .write.mode("overwrite").text(s"$tmp/in")
          val stream = s.readStream
            .schema("event_type STRING, value DOUBLE")
            .option("maxFilesPerTrigger", "4")
            .json(s"$tmp/in")
          val observed = stream.observe("w29_metrics",
            count(lit(1)).as("n_rows"),
            count(when(col("event_type") === "click", 1)).as("n_clicks"),
            sum(col("value").cast("decimal(28,6)")).as("sum_value"))
          val nRows = new java.util.concurrent.atomic.AtomicLong(0L)
          val nClicks = new java.util.concurrent.atomic.AtomicLong(0L)
          val sumRef = new java.util.concurrent.atomic.AtomicReference(
            java.math.BigDecimal.ZERO)
          val qname = s"graft_w29_${System.nanoTime()}"
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                if (e.progress.name == qname) {
                  val row = e.progress.observedMetrics.get("w29_metrics")
                  if (row != null && !row.isNullAt(0) && row.getLong(0) > 0) {
                    nRows.addAndGet(row.getLong(0))
                    nClicks.addAndGet(row.getLong(1))
                    val d = row.getDecimal(2)
                    if (d != null) { sumRef.updateAndGet(_.add(d)); () }
                  }
                }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
          s.streams.addListener(listener)
          try {
            val q = observed.writeStream.format("noop").queryName(qname)
              .trigger(Trigger.AvailableNow())
              .start()
            q.awaitTermination()
            // the listener bus delivers asynchronously — drain before
            // reading the accumulators (the ADVICE r08 ordering)
            Thread.sleep(500)
          } finally s.streams.removeListener(listener)
          Seq((nRows.get(), nClicks.get(), sumRef.get().doubleValue()))
            .toDF("n_rows", "n_clicks", "sum_value")
        } finally Rm.rf(tmp)
      },
      Some("""SELECT COUNT(*) AS n_rows,
        |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS n_clicks,
        |  CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value
        |FROM events""".stripMargin)),

    Q("w31_streaming_semdedup_gate",
      "Streaming SEMANTIC near-dup admission — d36's SemDeDup as live " +
        "ingest (graft.streaming.TwsSemGate), completing the gate " +
        "pair: w24 gates on MinHash band buckets, w31 on embedding " +
        "sign-LSH cells. A TTL'd ListState per cell holds the " +
        "ADMITTED vectors; an arrival is admitted iff no stored " +
        "cell-mate reaches cosine 0.35, and only admitted vectors " +
        "enter the state — the online greedy an ingest gate must be " +
        "(it cannot retract). State is bounded GEOMETRICALLY: each " +
        "cell's list is a theta-packing of its sphere sector, sized " +
        "by theta and the dimension, never by vectors seen. The " +
        "embedding streams as ARRAY<FLOAT> (json round-trips floats " +
        "exactly; parsing as double would change the values) and " +
        "widens after parse, so cosines match the oracle bit-for-bit. " +
        "The oracle replays the greedy in SQL: a recursive CTE walks " +
        "each cell in id order carrying the admitted list, using " +
        "list_intersect against precomputed over-threshold pairs.",
      (s, dir) => {
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        try {
          val Sim = graft.operators.Similarity
          val emb = Tables.t(s, dir, "embeddings")
          val expected = emb.count()
          val (stream, cleanup) = jsonStream(s,
            emb.select(
              to_json(struct(col("vec_id"), col("embedding"))).as("value")),
            "vec_id LONG, embedding ARRAY<FLOAT>")
          import s.implicits._
          val routed = stream.select(
              Sim.signBucket(col("embedding"), 4).as("bucket"),
              col("vec_id"),
              Sim.asDouble(col("embedding")).as("v"))
            .as[(String, Long, Array[Double])]
          val qname = s"graft_w31_${System.nanoTime()}"
          val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
          val dataBatches = new java.util.concurrent.atomic.AtomicLong(0L)
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                if (e.progress.name == qname) {
                  if (e.progress.numInputRows > 0) dataBatches.incrementAndGet()
                  consumed.addAndGet(e.progress.numInputRows); ()
                }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
          s.streams.addListener(listener)
          try {
            val q = graft.streaming.TwsSemGate.perCell(routed)
              .toDF("vec_id", "admitted")
              .writeStream.format("memory").queryName(qname)
              .outputMode("update")
              .trigger(Trigger.ProcessingTime("100 milliseconds"))
              .start()
            val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
            while (consumed.get() < expected &&
                q.exception.isEmpty && System.nanoTime() < deadline)
              Thread.sleep(100)
            q.exception.foreach(throw _)
            require(consumed.get() >= expected,
              s"w31: stream did not consume $expected rows within 120s")
            q.stop()
            q.awaitTermination()
            // the greedy-by-id oracle is the gate's semantics only when
            // everything arrives in ONE data batch (the w24 discipline)
            require(dataBatches.get() == 1,
              s"w31: expected a single data batch, saw ${dataBatches.get()}")
          } finally s.streams.removeListener(listener)
          cleanup()
          s.table(qname)
            .select(col("vec_id"), col("admitted"))
            .orderBy("vec_id")
            .localCheckpoint()
        } finally prevProv match {
          case Some(v) => s.conf.set(provKey, v)
          case None    => s.conf.unset(provKey)
        }
      },
      Some {
        val bucket = (1 to 4).map(i =>
          s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)")
          .mkString(" || ")
        def cos(x: String, y: String) =
          s"""(
            |  list_reduce(list_transform(generate_series(1, len($x)),
            |    i -> $x[i] * $y[i]), (p,qq) -> p + qq) /
            |  (sqrt(list_reduce(list_transform($x, z -> z * z), (p,qq) -> p + qq)) *
            |   sqrt(list_reduce(list_transform($y, z -> z * z), (p,qq) -> p + qq))))"""
            .stripMargin
        s"""WITH RECURSIVE e AS (
          |  SELECT vec_id AS id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          |    $bucket AS bucket FROM embeddings),
          |r AS (SELECT id, bucket, v,
          |  row_number() OVER (PARTITION BY bucket ORDER BY id) AS rn
          |  FROM e),
          |p AS (SELECT a.bucket, a.id AS lo, b.id AS hi FROM r a JOIN r b
          |  ON a.bucket = b.bucket AND a.id < b.id
          |  WHERE ${cos("a.v", "b.v")} >= 0.35),
          |pn AS (SELECT bucket, hi, list(lo) AS los FROM p
          |  GROUP BY bucket, hi),
          |rc AS (SELECT r.id, r.bucket, r.rn,
          |  coalesce(pn.los, CAST([] AS BIGINT[])) AS los
          |  FROM r LEFT JOIN pn ON pn.hi = r.id AND pn.bucket = r.bucket),
          |g(bucket, rn, adm) AS (
          |  SELECT bucket, CAST(0 AS BIGINT), CAST([] AS BIGINT[])
          |  FROM (SELECT DISTINCT bucket FROM r)
          |  UNION ALL
          |  SELECT g.bucket, g.rn + 1,
          |    CASE WHEN len(list_intersect(g.adm, c.los)) > 0 THEN g.adm
          |         ELSE list_append(g.adm, c.id) END
          |  FROM g JOIN rc c ON c.bucket = g.bucket AND c.rn = g.rn + 1),
          |fin AS (SELECT bucket, adm FROM g
          |  QUALIFY rn = max(rn) OVER (PARTITION BY bucket))
          |SELECT r.id AS vec_id, list_contains(f.adm, r.id) AS admitted
          |FROM r JOIN fin f USING (bucket) ORDER BY vec_id""".stripMargin
      }),

    Q("w32_streaming_semdedup_gate_multibatch",
      "The w31 gate's TRUE cross-batch semantics, oracled — the w26 " +
        "discipline applied to the semantic gate: vectors arrive in " +
        "three data batches in an order DIFFERENT from id order " +
        "(wave = vec_id % 3, each wave ATOMIC_MOVE'd in only after " +
        "the previous is consumed), so a vector can be rejected by a " +
        "LATER-id cell-mate that arrived in an earlier wave, and a " +
        "vector similar only to same-cell vectors of LATER waves is " +
        "admitted. The greedy admitted set accumulates across batches " +
        "(intra-batch in id order); the oracle's recursive CTE walks " +
        "each cell in (wave, id) order — arrival order — instead of " +
        "w31's plain id order.",
      (s, dir) => {
        val provKey = "spark.sql.streaming.stateStore.providerClass"
        val prevProv = s.conf.getOption(provKey)
        s.conf.set(provKey,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-w32").toString
        try {
          val Sim = graft.operators.Similarity
          val emb = Tables.t(s, dir, "embeddings")
          val waveLines: Seq[Array[String]] = (0 until 3).map { w =>
            emb.filter(col("vec_id") % 3 === w)
              .select(to_json(struct(col("vec_id"), col("embedding"))))
              .collect().map(_.getString(0))
          }
          val in = java.nio.file.Paths.get(tmp, "in")
          val stage = java.nio.file.Paths.get(tmp, "stage")
          java.nio.file.Files.createDirectories(in)
          java.nio.file.Files.createDirectories(stage)
          import s.implicits._
          val routed = s.readStream
            .schema("vec_id LONG, embedding ARRAY<FLOAT>").json(in.toString)
            .select(
              Sim.signBucket(col("embedding"), 4).as("bucket"),
              col("vec_id"),
              Sim.asDouble(col("embedding")).as("v"))
            .as[(String, Long, Array[Double])]
          val qname = s"graft_w32_${System.nanoTime()}"
          val consumed = new java.util.concurrent.atomic.AtomicLong(0L)
          val dataBatches = new java.util.concurrent.atomic.AtomicLong(0L)
          val listener =
            new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                if (e.progress.name == qname) {
                  if (e.progress.numInputRows > 0) dataBatches.incrementAndGet()
                  consumed.addAndGet(e.progress.numInputRows); ()
                }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
          s.streams.addListener(listener)
          try {
            val q = graft.streaming.TwsSemGate.perCell(routed)
              .toDF("vec_id", "admitted")
              .writeStream.format("memory").queryName(qname)
              .outputMode("update")
              .trigger(Trigger.ProcessingTime("100 milliseconds"))
              .start()
            var cum = 0L
            waveLines.zipWithIndex.foreach { case (lines, w) =>
              val f = stage.resolve(s"wave$w.json")
              java.nio.file.Files.write(f,
                lines.mkString("\n").getBytes(
                  java.nio.charset.StandardCharsets.UTF_8))
              java.nio.file.Files.move(f, in.resolve(s"wave$w.json"),
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              cum += lines.length
              val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
              while (consumed.get() < cum && q.exception.isEmpty &&
                  System.nanoTime() < deadline)
                Thread.sleep(100)
              q.exception.foreach(throw _)
              require(consumed.get() >= cum,
                s"w32: wave $w not consumed ($cum rows) within 120s")
            }
            q.stop()
            q.awaitTermination()
            val nonEmpty = waveLines.count(_.nonEmpty)
            require(dataBatches.get() >= nonEmpty,
              s"w32: expected >= $nonEmpty data batches (one per wave), " +
                s"saw ${dataBatches.get()} — waves collapsed into one " +
                "batch, so the multi-batch regime was not exercised")
          } finally s.streams.removeListener(listener)
          s.table(qname)
            .select(col("vec_id"), col("admitted"))
            .orderBy("vec_id")
            .localCheckpoint()
        } finally {
          prevProv match {
            case Some(v) => s.conf.set(provKey, v)
            case None    => s.conf.unset(provKey)
          }
          Rm.rf(tmp)
        }
      },
      Some {
        val bucket = (1 to 4).map(i =>
          s"(CASE WHEN embedding[$i] > 0 THEN '1' ELSE '0' END)")
          .mkString(" || ")
        def cos(x: String, y: String) =
          s"""(
            |  list_reduce(list_transform(generate_series(1, len($x)),
            |    i -> $x[i] * $y[i]), (p,qq) -> p + qq) /
            |  (sqrt(list_reduce(list_transform($x, z -> z * z), (p,qq) -> p + qq)) *
            |   sqrt(list_reduce(list_transform($y, z -> z * z), (p,qq) -> p + qq))))"""
            .stripMargin
        s"""WITH RECURSIVE e AS (
          |  SELECT vec_id AS id,
          |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
          |    $bucket AS bucket FROM embeddings),
          |r AS (SELECT id, bucket, v,
          |  row_number() OVER (PARTITION BY bucket
          |    ORDER BY id % 3, id) AS rn
          |  FROM e),
          |p AS (SELECT a.bucket, a.id AS lo, b.id AS hi FROM r a JOIN r b
          |  ON a.bucket = b.bucket AND a.rn < b.rn
          |  WHERE ${cos("a.v", "b.v")} >= 0.35),
          |pn AS (SELECT bucket, hi, list(lo) AS los FROM p
          |  GROUP BY bucket, hi),
          |rc AS (SELECT r.id, r.bucket, r.rn,
          |  coalesce(pn.los, CAST([] AS BIGINT[])) AS los
          |  FROM r LEFT JOIN pn ON pn.hi = r.id AND pn.bucket = r.bucket),
          |g(bucket, rn, adm) AS (
          |  SELECT bucket, CAST(0 AS BIGINT), CAST([] AS BIGINT[])
          |  FROM (SELECT DISTINCT bucket FROM r)
          |  UNION ALL
          |  SELECT g.bucket, g.rn + 1,
          |    CASE WHEN len(list_intersect(g.adm, c.los)) > 0 THEN g.adm
          |         ELSE list_append(g.adm, c.id) END
          |  FROM g JOIN rc c ON c.bucket = g.bucket AND c.rn = g.rn + 1),
          |fin AS (SELECT bucket, adm FROM g
          |  QUALIFY rn = max(rn) OVER (PARTITION BY bucket))
          |SELECT r.id AS vec_id, list_contains(f.adm, r.id) AS admitted
          |FROM r JOIN fin f USING (bucket) ORDER BY vec_id""".stripMargin
      })
  )
}
