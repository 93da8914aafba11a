package graft.queries

import org.apache.spark.sql.functions._
import graft.streaming.StreamingRelational
import graft.queries.QueryDef.sql

/** Structured Streaming operators surfaced through the driver contract:
  * each query runs its streaming transform one-shot over the bounded
  * events table ([[StreamingRelational.oneShot]]) and must hash-match
  * the batch SQL oracle — streaming/batch parity is the correctness
  * claim. */
object StreamingQueries {

  // `def`, not `val`: s31/s32's trained-state oracles and s07's
  // corpus-derived ANN oracle are built at DUMP time (after the
  // queries ran — the VectorQueries.all precedent), so the QueryDef
  // seq must re-evaluate when Verify reads oracleSql.
  def all: Seq[QueryDef] = Seq(

    // Watermarked tumbling window (1h) per event type.
    sql(
      "s01_stream_hourly_type",
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin) { (s, d) =>
      // append mode: the sentinel drives the watermark past every real
      // window, the final no-data batch flushes them, and each window
      // crosses the sink exactly once (complete mode rewrote the whole
      // result per trigger — a driver-side scale-killer)
      StreamingRelational.oneShot(s,
          StreamingRelational.hourlyTypeCounts(
            StreamingRelational.eventsStreamWithSentinel(s, d)))
        .orderBy(col("hour"), col("event_type"))
    },

    // Event-time session windows (30 min gap) per user. Spark's
    // session_window merges an event landing EXACTLY gap after the
    // previous one (merge on next.start <= prev.end), so the oracle
    // splits only on a strictly greater gap.
    sql(
      "s02_stream_sessions",
      """WITH m AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM m)
        |SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
        |  CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS total_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
      // append + sentinel (see s01): sessions finalize once the
      // watermark passes session_end + gap; the sentinel's own session
      // never finalizes and never reaches the sink
      StreamingRelational.oneShot(s,
          StreamingRelational.userSessions(
            StreamingRelational.eventsStreamWithSentinel(s, d)))
        .orderBy(col("user_id"), col("session_start"))
    },

    // Custom keyed state (mapGroupsWithState): running per-user
    // (count, sum) across micro-batches, update output mode. The final
    // snapshot per key must equal the batch aggregation — the
    // streaming/batch parity claim for ARBITRARY keyed state, not just
    // built-in windows. The memory sink keeps every per-batch snapshot
    // in update mode, so the query reduces to the final one per key
    // (max count — state counts are monotonic) to stay deterministic
    // under any micro-batch split.
    sql(
      "s03_stream_user_state",
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(sum(value) + 1e-9, 2) AS total_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, d) =>
      import s.implicits._
      val ev = StreamingRelational.eventsStream(s, d)
        .select(col("user_id").cast("long"), col("value").cast("double"))
        .as[(Long, Double)]
      StreamingRelational.oneShot(s,
          StreamingRelational.runningUserStats(ev)
            .toDF("user_id", "n_events", "total_value"),
          mode = "update")
        .groupBy(col("user_id"))
        .agg(max(struct(col("n_events"), col("total_value"))).as("st"))
        .select(col("user_id"), col("st.n_events").as("n_events"),
          col("st.total_value").as("total_value"))
        .orderBy(col("user_id"))
    },

    // Streaming exact dedup (dropDuplicatesWithinWatermark): first
    // occurrence per (user_id, event_type) wins, watermark-bounded
    // state. WHICH row survives a tie is partition-order dependent, so
    // the query projects the deterministic part — the surviving KEY
    // set — which must equal batch DISTINCT. Deliberately NO post-hoc
    // .distinct(): within one micro-batch the operator's own no-dup-keys
    // guarantee is exactly what the hash compare verifies (a defensive
    // distinct would mask an operator that emits duplicates). The
    // harness input IS one micro-batch: eventsStream is a single
    // glob-filtered file under AvailableNow with no rate limit — the
    // same single-batch contract the sentinel docs pin for s01/s02.
    // (Cross-batch, a key re-emits only after its state expires past
    // the watermark — by design, not a defect.)
    sql(
      "s04_stream_dedup",
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
      StreamingRelational.oneShot(s,
          StreamingRelational.streamingDedup(
            StreamingRelational.eventsStream(s, d), "ts",
            Seq("user_id", "event_type")))
        .select(col("user_id"), col("event_type"))
        .orderBy(col("user_id"), col("event_type"))
    },

    // Watermarked stream-stream self-join: for each event, same-user
    // events within the preceding 30 minutes (inclusive both ends —
    // every event matches itself). Both sides carry watermarks and the
    // event-time bound lets Spark expire join state; the emitted PAIR
    // SET is deterministic and must equal the batch self-join.
    sql(
      "s05_stream_join",
      """SELECT l.event_id AS event_id_a, r.event_id AS event_id_b
        |FROM events l JOIN events r
        |  ON l.user_id = r.user_id
        |  AND r.ts BETWEEN l.ts - INTERVAL 30 MINUTE AND l.ts
        |ORDER BY event_id_a, event_id_b""".stripMargin) { (s, d) =>
      StreamingRelational.oneShot(s,
          StreamingRelational.streamStreamJoin(
              StreamingRelational.eventsStream(s, d),
              StreamingRelational.eventsStream(s, d))
            .select(col("l.event_id").as("event_id_a"),
              col("r.event_id").as("event_id_b")))
        .orderBy(col("event_id_a"), col("event_id_b"))
    },

    // STREAM-STATIC join — the remaining streaming join class after
    // s05's stream-stream: the arriving crawl increment (a streaming
    // read of the new-batch documents) joins the PERSISTED signature
    // index as a static side, i.e. t25's incremental dedup running as
    // the ingestion stream it would be in production. The operator
    // composition (Dedup.incrementalNearDups) is byte-identical to the
    // batch path — only the source is a stream — and the oracle IS
    // t25's: streaming/batch parity is the correctness claim. The
    // in-stream dropDuplicates holds per-pair state without a watermark,
    // which is bounded by the increment's size (a day's crawl), not the
    // corpus; a truly unbounded stream would swap in
    // dropDuplicatesWithinWatermark (s04's operator).
    sql(
      "s06_stream_static_join",
      HashOracleSql.incrementalNearDups(n = 3, k = 16, rowsPerBand = 4,
        threshold = 0.5, newPred = "doc_id % 5 = 0")) { (s, d) =>
      StreamingRelational.oneShot(s,
          graft.operators.Dedup.incrementalNearDups(
            StreamingRelational.documentsStream(s, d).filter(col("doc_id") % 5 === 0),
            col("text"), col("doc_id"), TextQueries.dedupIndex(s, d)))
        .orderBy(col("new_id"), col("dup_of"))
    },

    // STREAMING ANN serving: a stream of query vectors answered against
    // the static partitioned bucket index — production semantic-search
    // ingestion (every arriving request gets its top-k). The batched
    // serving operator's plan (per-query windows, multi-stage
    // aggregation) cannot run inside Structured Streaming, so each
    // micro-batch serves via foreachBatch with the FULL batch operator
    // — v15's code and plan verbatim — against the shared index;
    // per-request independence makes the answer invariant to the
    // stream's batch slicing, which is exactly what the shared batch
    // oracle (v15's SQL, this query's qid predicate) verifies.
    QueryDef("s07_stream_semantic_search", (s, d) =>
      StreamingRelational.oneShotServe(s,
          StreamingRelational.embeddingsStream(s, d)
            .filter(col("vec_id") % 50 === 0),
          batch => graft.operators.Similarity.lshKnnBatch(
            VectorQueries.servedIndex(s, d), batch,
            col("embedding"), col("vec_id"),
            dim = VectorQueries.EmbDim, k = 10,
            nBits = VectorQueries.annConfig(s, d).nBits))
        .orderBy(col("qid"), col("rk")),
      VectorQueries.soleAnnConfig.map(
        VectorQueries.batchedKnnSqlFor(_, "vec_id % 50 = 0"))),

    // STREAMING incremental-aggregate maintenance: q37's state loop
    // with the increment arriving as a stream — each micro-batch
    // aggregates ALONE and merges into the accumulated state
    // (starting from the stored snapshot); merge associativity makes
    // the final state invariant to batch slicing, so the shared
    // full-recompute oracle verifies the streaming path bit-for-bit.
    // The history again contributes only its state parquet. The state
    // loop runs through the EXACTLY-ONCE store (EpochState): every
    // micro-batch commits under its batch id behind an atomic pointer,
    // so a crash between merge and commit cannot double-count on
    // replay — the production form of the loop, oracled here
    // (EpochStateSpec drives the crash halves explicitly).
    sql(
      "s08_stream_incremental_agg",
      RelationalQueries.incrementalAggOracle) { (s, d) =>
      import graft.operators.IncrementalAgg
      val snapshot = s.read.parquet(RelationalQueries.incAggSnapshot(s, d))
      val stateDir = PerDir.scratch("incagg-epochs")
      RelationalQueries.finalizeIncAgg(
        StreamingRelational.oneShotFoldMany(s,
          StreamingRelational.eventsStream(s, d)
            .filter(!Tables.inLowMd5Half(col("event_id"))),
          Seq(snapshot),
          (states, batch, _) => Seq(IncrementalAgg.merge(states.head,
            IncrementalAgg.aggState(batch, Seq(col("event_type")), col("value")),
            Seq("event_type"))),
          stateDir = Some(stateDir.toString)).head)
    },

    // Watermark LATE-DATA accounting: a controlled four-file arrival —
    // md5-low half (minus the max-ts rows) → the max-ts "heartbeat"
    // rows → the high half, now mostly stale → far-future sentinel —
    // one micro-batch per file. Spark keeps TWO watermark values per
    // batch (measured here — WatermarkLagSpec pins the lag on a
    // minimal fixture): EVICTION in batch N uses the watermark from
    // data through batch N-1, but the LATE-RECORD filter uses the
    // EVICTION watermark of batch N-1 — i.e. data through batch N-2,
    // a TWO-batch lag (so a kept-late window can never collide with
    // an already-evicted one: evicted ends <= that same value). For
    // the high half (batch 3) the late-filter watermark is therefore
    // max(p1.ts) - 1h — the heartbeat batch's max(ts) only governs
    // its EVICTION — so p2 reaches the hourly aggregation ONLY where
    // window_end > max(p1.ts) - 1h: exactly the discard a 100 TB
    // streaming pipeline must be able to PREDICT, not just observe.
    // (Round-11 verdict #2: at sf0.001 max(p1) trails max(ts) by
    // ~4h, exposing the lag the mx-based oracle missed; at sf0.01+
    // both candidates fall in the same hour, masking it.) The oracle
    // replays that rule in SQL; a hash-match proves the engine's
    // late-row semantics are the documented ones, batch-for-batch.
    sql(
      "s09_stream_late_data",
      """WITH mx AS (SELECT max(ts) AS m FROM events),
        |p1 AS (
        |  SELECT e.* FROM events e, mx
        |  WHERE coalesce(substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '7', TRUE)
        |    AND e.ts < mx.m),
        |hb AS (SELECT e.* FROM events e, mx WHERE e.ts = mx.m),
        |p2 AS (
        |  SELECT e.* FROM events e, mx
        |  WHERE NOT coalesce(substr(md5(CAST(event_id AS VARCHAR)), 1, 1) <= '7', TRUE)
        |    AND e.ts < mx.m),
        |wm AS (SELECT date_trunc('millisecond', max(ts)) - INTERVAL 1 HOUR AS w FROM p1),
        |kept AS (
        |  SELECT * FROM p1
        |  UNION ALL
        |  SELECT * FROM hb
        |  UNION ALL
        |  SELECT p2.* FROM p2, wm
        |  WHERE date_trunc('hour', p2.ts) + INTERVAL 1 HOUR > wm.w)
        |SELECT date_trunc('hour', ts) AS hour, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value) + 1e-9, 2) AS total_value
        |FROM kept GROUP BY 1 ORDER BY hour""".stripMargin) { (s, d) =>
      val stream = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(lateArrivalDir(s, d))
      val agg = stream
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")) + 1e-9, 2).as("total_value"))
        .select(col("window.start").as("hour"), col("n"), col("total_value"))
      StreamingRelational.oneShot(s, agg).orderBy(col("hour"))
    },

    // Streaming decontamination via bloom pre-screen + exact verify
    // (BloomPrune.verifiedAntiJoinString): the arriving crawl drops
    // documents whose content fingerprint is on the eval-set blocklist.
    // The bloom (built ONCE from the static blocklist, a ~KB plan
    // constant) clears the definitely-clean rows without touching the
    // join; only the flagged sliver anti-joins the blocklist for the
    // exact verdict — so the result is row-identical to the plain
    // anti-join at any fpp, which IS the oracle (s06's
    // same-operator-both-modes discipline: the batch operator runs
    // unchanged on the stream). At scale the blocklist is too big to
    // broadcast per batch — the bloom is the part that ships.
    sql(
      "s10_stream_decontam",
      s"""WITH b AS (
         |  SELECT DISTINCT ${graft.functions.TextFunctions.Sql.fingerprint("text")} AS fp
         |  FROM documents WHERE doc_id % 7 = 0)
         |SELECT d.doc_id FROM documents d
         |LEFT JOIN b ON ${graft.functions.TextFunctions.Sql.fingerprint("d.text")} = b.fp
         |WHERE b.fp IS NULL ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      import graft.functions.TextFunctions
      import graft.operators.BloomPrune
      val block = Tables.documents(s, d).filter(col("doc_id") % 7 === 0)
        .select(TextFunctions.fingerprint(col("text")).as("fp")).distinct()
      val bloom = BloomPrune.keyBloomString(block, "fp",
        expectedNumItems = 1000L, fpp = 0.01)
      val stream = StreamingRelational.documentsStream(s, d)
        .withColumn("fp_doc", TextFunctions.fingerprint(col("text")))
      StreamingRelational.oneShot(s,
          BloomPrune.verifiedAntiJoinString(stream, "fp_doc", block, "fp", bloom)
            .select(col("doc_id")))
        .orderBy(col("doc_id"))
    },

    // STREAMING SCD2 maintenance: the change log arrives as four
    // time-contiguous weekly micro-batches (oldest first) and each
    // batch folds into the dimension via Scd2.applyIncrement — only
    // touched keys' current rows replay per batch, out-of-order
    // arrivals would fail loud, and after the last batch the
    // maintained dimension must equal the full-log rebuild (q41's
    // oracle verbatim — q42's merge==rebuild claim, now proven under
    // MULTI-step arrival, each step merging into the previous step's
    // output rather than a freshly built dim).
    sql(
      "s11_stream_scd2",
      RelationalQueries.scd2OracleSql) { (s, d) =>
      import graft.operators.Scd2
      val stream = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(scd2ArrivalDir(s, d))
      val empty = Scd2.fromChangeLog(
        Tables.events(s, d).filter(lit(false)),
        key = "user_id", ts = "ts", tieBreak = "event_id",
        attrs = Seq("event_type"))
      StreamingRelational.oneShotFold(s, stream, empty,
          (dim, batch) => Scd2.applyIncrement(dim, batch,
            key = "user_id", ts = "ts", tieBreak = "event_id",
            attrs = Seq("event_type")))
        .orderBy(col("user_id"), col("version_no"))
    },

    // STREAMING heavy-hitter maintenance: the document corpus arrives
    // as three md5-sliced micro-batches, each batch builds its own CMS
    // (the same distributed treeAggregate as t33), and the per-batch
    // sketches MERGE — CMS is a LINEAR sketch (counters are sums), so
    // the merged state is counter-identical to the single-pass batch
    // sketch no matter how the stream was sliced. The proof is the
    // oracle itself: s12 shares t33's oracle verbatim, so the streamed
    // sketch must reproduce the batch path's exact top-20 flags. The
    // ~1 MB state is the whole per-batch transfer — the unbounded-
    // domain frequency monitor a 100 TB ingest keeps without ever
    // shuffling the token domain.
    sql("s12_stream_heavy_hitters", TextQueries.heavyHittersOracle) { (s, d) =>
      import org.apache.spark.util.sketch.CountMinSketch
      import s.implicits._
      val slices = documentSliceDir(s, d)
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(slices)
      val init = Seq((Option.empty[Array[Byte]], 0L)).toDF("sketch", "n")
      val state = StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => {
          val bSketch = graft.operators.HeavyHitters.sketch(
            TextQueries.docTerms(batch), "term", eps = TextQueries.HhEps)
          val row = state.head()
          val merged =
            if (row.isNullAt(0)) bSketch
            else {
              val prior = CountMinSketch.readFrom(
                new java.io.ByteArrayInputStream(row.getAs[Array[Byte]](0)))
              prior.mergeInPlace(bSketch)
              prior
            }
          val out = new java.io.ByteArrayOutputStream()
          merged.writeTo(out)
          // totalCount is cumulative after the merge — it IS the running n
          Seq((Option(out.toByteArray), merged.totalCount()))
            .toDF("sketch", "n")
        })
      val finalRow = state.head()
      require(!finalRow.isNullAt(0), "s12: stream delivered no documents")
      val cms = CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(finalRow.getAs[Array[Byte]](0)))
      TextQueries.heavyHitterReport(s, d, cms)
    },

    // STREAMING quality gate with quarantine: events arrive as three
    // micro-batches and each batch splits ROW-LOCALLY via
    // Expectations.quarantine — violating rows (tagged with every
    // check they failed) to the quarantine sink, the rest publish.
    // Row checks judge a row by itself, so the union of per-batch
    // quarantines is provably invariant to how the stream slices; the
    // oracle IS the whole-table batch gate, making that claim the
    // hash-compare. Per batch this is one narrow scan-and-filter — no
    // state store, no shuffle, nothing accumulates — the gate shape
    // that keeps up with any ingest rate. (Uniqueness/FK checks are
    // NOT batch-invariant and quarantine() refuses them loudly;
    // they stay in the batch publish gate, q45.)
    sql(
      "s13_stream_quality",
      """SELECT event_id,
        |  concat_ws(',',
        |    CASE WHEN value > 300 THEN 'value_le_300' END,
        |    CASE WHEN user_id >= 100 THEN 'user_lt_100' END,
        |    CASE WHEN event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view')
        |         THEN 'type_domain' END) AS failed_checks
        |FROM events
        |WHERE value > 300 OR user_id >= 100
        |   OR event_type NOT IN ('click', 'error', 'purchase', 'signup', 'view')
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      import graft.operators.Expectations
      val stream = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(eventSliceDir(s, d))
      StreamingRelational.oneShotServe(s, stream, batch =>
        Expectations.quarantine(batch, Seq(
            Expectations.rowCheck("value_le_300", col("value") > 300),
            Expectations.rowCheck("user_lt_100", col("user_id") >= 100),
            Expectations.rowCheck("type_domain",
              !col("event_type").isin("click", "error", "purchase", "signup", "view"))))
          .select(col("event_id"), col("failed_checks")))
        .orderBy(col("event_id"))
    },

    // STREAMING CDC maintenance: q51's change feed arrives as three
    // seq-contiguous micro-batches (oldest log positions first) and
    // each batch folds into the snapshot via Cdc.applyChanges — the
    // live table a change-capture pipeline keeps. Netting composes
    // across any seq-contiguous slicing (CdcSpec's composition law),
    // so the folded state must equal the one-big-apply — the oracle is
    // q51's verbatim (s11/q42's maintenance==rebuild discipline, now
    // with a DELETE arm in play).
    sql("s14_stream_cdc", RelationalQueries.cdcApplyOracle) { (s, d) =>
      val stream = s.readStream
        .schema("user_id BIGINT, event_type STRING, value DOUBLE, op STRING, seq BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(cdcSliceDir(s, d))
      StreamingRelational.oneShotFold(s, stream,
          RelationalQueries.cdcSnapshot(s, d),
          (snap, batch) => graft.operators.Cdc.applyChanges(snap, batch, key = "user_id"))
        .orderBy(col("user_id"))
    },

    // STREAMING index maintenance: the corpus arrives as three
    // micro-batches (s12's slice fixture) and each batch's postings
    // APPEND to the on-disk inverted index — first batch creates the
    // layout, later batches grow it under the stored bucket modulus
    // (t35's append path, now driven by a stream). Postings are
    // per-doc-local, so the union of per-batch appends is exactly the
    // one-shot build whatever the slicing — the serve answer must be
    // t34's oracle verbatim. The index is rebuilt fresh per run (the
    // maintenance IS the measured work; served-index queries that
    // amortize the build are t34/t35).
    sql("s15_stream_index", TextQueries.indexAndOracle) { (s, d) =>
      import graft.operators.InvertedIndex
      val root = PerDir.scratch("stream-inv-index")
      // markers live in the PARENT, index data one level down: batch
      // 0's build writes mode(overwrite), which deletes the data dir
      // wholesale — markers stored inside it would be wiped mid-epoch
      // (and a build-crash replay would see _meta.json and take the
      // append arm, double-counting; the surviving intent marker now
      // catches that replay loudly too)
      val idx = root.resolve("data")
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      import s.implicits._
      // foreachBatch is at-least-once, and a re-delivered batch
      // re-appending its postings would break lookupAll's
      // distinct-postings invariant (count == q would silently drop
      // matching docs): EpochState.once runs each batch's build/append
      // at most once and fails loudly on a crash inside it
      val state = StreamingRelational.oneShotFoldMany(s, stream,
        Seq(Seq(0L).toDF("n_batches")),
        (st, batch, epoch) => {
          graft.operators.EpochState.once(root, epoch) {
            if (!java.nio.file.Files.exists(idx.resolve("_meta.json")))
              InvertedIndex.build(batch, col("doc_id"), col("text"),
                nBuckets = 8, dir = idx.toString)
            else
              InvertedIndex.append(batch, col("doc_id"), col("text"), idx.toString)
          }
          Seq(st.head.select((col("n_batches") + 1L).as("n_batches")))
        }).head
      require(state.head().getLong(0) >= 3L, "s15: expected three arriving batches")
      InvertedIndex.lookupAll(s, idx.toString, Seq("spark", "merge", "dup"))
        .join(Tables.documents(s, d)
          .select(col("doc_id"), col("lang"), col("source")), "doc_id")
        .orderBy(col("doc_id"))
    },

    // STREAMING incremental JOIN maintenance: new orders arrive as
    // three micro-batches and the stored orders⋈customer view absorbs
    // each batch via IncrementalJoin.delta (single-sided insert-only
    // IVM: ΔA⋈B per batch; the view is never re-joined, only
    // appended). After the last batch the maintained view must equal
    // the full-join rebuild — q55's oracle verbatim (the q42/s11
    // maintenance==rebuild discipline, now for a JOIN view).
    // STREAMING aggregate-over-join maintenance (q56's streaming leg):
    // each arriving order batch delta-joins the customer dimension and
    // MERGES into the per-customer revenue state — the state is
    // dimension-sized and mergeable (never-finalized sums), so a batch
    // costs one broadcast delta join + one state merge regardless of
    // history size. Final render must equal the full recompute (q56's
    // oracle verbatim).
    sql("s17_stream_incremental_join_agg",
      """SELECT c.c_name, CAST(count(*) AS BIGINT) AS n_orders,
        |       round(sum(o.o_totalprice) + 1e-9, 2) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_name ORDER BY c.c_name""".stripMargin) { (s, d) =>
      import graft.operators.{IncrementalAgg, IncrementalJoin}
      val customer = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val emptyB = customer.filter(lit(false))
      val emptyA = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"), col("o_totalprice"))
        .filter(lit(false))
      val stream = s.readStream
        .schema("o_orderkey BIGINT, c_custkey BIGINT, o_totalprice DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(ordersSliceDir(s, d))
      val state0 = IncrementalAgg.aggState(
        emptyA.join(customer, "c_custkey"), Seq(col("c_name")), col("o_totalprice"))
      IncrementalAgg.finalize(
          StreamingRelational.oneShotFold(s, stream, state0,
            (st, batch) => IncrementalAgg.merge(st,
              IncrementalAgg.aggState(
                IncrementalJoin.delta(emptyA, batch, customer, emptyB, Seq("c_custkey")),
                Seq(col("c_name")), col("o_totalprice")),
              Seq("c_name"))),
          Seq("c_name"))
        .select(col("c_name"), col("cnt").as("n_orders"),
          round(col("sum") + 1e-9, 2).as("revenue"))
        .orderBy(col("c_name"))
    },

    // STREAMING quantile-state maintenance: per-type latency/value
    // percentiles kept as a MERGEABLE Greenwald-Khanna summary
    // (QuantileState — the sketch behind Spark's approxQuantile) that
    // each micro-batch folds into; the GK merge preserves the ε rank
    // bound, so the maintained state answers ε-accurate percentiles
    // after ANY slicing without re-scanning history. Rendering follows
    // q39/s12's sketch-vs-exact discipline: exact quantiles for the
    // values, the STREAMED state only has to land inside the ±2ε-rank
    // band (a deterministic guarantee — GK is not probabilistic), so
    // the flags are the oracle's TRUE twin.
    sql(
      "s18_stream_quantiles",
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.9), 4) AS p90,
        |  round(quantile_cont(value, 0.99), 4) AS p99,
        |  TRUE AS p50_in_band, TRUE AS p90_in_band, TRUE AS p99_in_band
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import graft.operators.QuantileState
      import s.implicits._
      val stream = s.readStream
        .schema("event_id BIGINT, user_id BIGINT, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(eventSliceDir(s, d))
      val init = Seq.empty[(String, Array[Byte])].toDF("event_type", "sk")
      val stateDf = StreamingRelational.oneShotFold(s, stream, init,
        (st, batch) => {
          val prior = QuantileState.deserialize(st.collect()
            .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap)
          val merged = QuantileState.mergeStates(prior,
            QuantileState.sketch(batch, "event_type", "value"))
          QuantileState.serialize(merged).toSeq.toDF("event_type", "sk")
        })
      val state = QuantileState.deserialize(stateDf.collect()
        .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap)
      require(state.nonEmpty, "s18: stream delivered no events")
      // Exact rendered percentiles + group sizes, one aggregate.
      val exact = Tables.events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, array(0.5, 0.9, 0.99))").as("ex"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> ((r.getSeq[Double](1), r.getLong(2)))).toMap
      // In-band in RANK space from the summary's own ±2ε guarantee
      // (q39's round-12 discipline; 2ε because the state is a MERGE of
      // per-batch GK summaries): the answered value's rank interval
      // [lt+1, le] must come within 2ε·n + 1 ranks of p·n — scale-free,
      // where the old value-space band (exact percentile at p±2ε)
      // collapsed below the inter-sample spacing at sf0.001's ~100-row
      // groups. One broadcast-joined counting scan for all answers.
      val answers = exact.keys.toSeq.sorted.map { t =>
        def v(q: Double) = QuantileState.query(state, t, q).getOrElse(Double.NaN)
        (t, v(0.5), v(0.9), v(0.99))
      }
      val ranks = Tables.events(s, d)
        .join(broadcast(answers.toDF("event_type", "v50", "v90", "v99")),
          Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(
          sum(when(col("value") < col("v50"), 1L).otherwise(0L)).as("lt50"),
          sum(when(col("value") <= col("v50"), 1L).otherwise(0L)).as("le50"),
          sum(when(col("value") < col("v90"), 1L).otherwise(0L)).as("lt90"),
          sum(when(col("value") <= col("v90"), 1L).otherwise(0L)).as("le90"),
          sum(when(col("value") < col("v99"), 1L).otherwise(0L)).as("lt99"),
          sum(when(col("value") <= col("v99"), 1L).otherwise(0L)).as("le99"))
        .collect().map(r => r.getString(0) ->
          (1 to 6).map(i => r.getLong(i)).toIndexedSeq).toMap
      def r4(v: Double) = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      val out = exact.toSeq.map { case (t, (ex, n)) =>
        val c = ranks(t)
        val tol = 2 * 0.001 * n + 1
        def inBand(lt: Long, le: Long, p: Double) =
          lt <= n * p + tol && le >= n * p - tol
        (t, r4(ex(0)), r4(ex(1)), r4(ex(2)),
          inBand(c(0), c(1), 0.5), inBand(c(2), c(3), 0.9), inBand(c(4), c(5), 0.99))
      }
      out.toDF("event_type", "p50", "p90", "p99",
          "p50_in_band", "p90_in_band", "p99_in_band")
        .orderBy(col("event_type"))
    },

    sql("s16_stream_incremental_join", RelationalQueries.incJoinOracle) { (s, d) =>
      import graft.operators.IncrementalJoin
      val customer = Tables.customer(s, d).select(col("c_custkey"), col("c_name"))
      val emptyB = customer.filter(lit(false))
      val emptyA = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"), col("o_totalprice"))
        .filter(lit(false))
      val stream = s.readStream
        .schema("o_orderkey BIGINT, c_custkey BIGINT, o_totalprice DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(ordersSliceDir(s, d))
      StreamingRelational.oneShotFold(s, stream,
          emptyA.join(customer, "c_custkey"), // empty view, correct schema
          (v, batch) => IncrementalJoin.applyDelta(
            v, emptyA, batch, customer, emptyB, Seq("c_custkey")))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
          round(col("o_totalprice"), 2).as("price"))
        .orderBy(col("o_orderkey"))
    },

    // STREAMING training mix: t19's end-to-end gate pipeline with the
    // corpus arriving as micro-batches — the production ingestion
    // shape: per batch, every PER-DOC verdict (gate kernels behind the
    // Generate barrier, fingerprint, decontamination vs the STATIC
    // broadcast eval set) computes once and folds into a narrow
    // metadata table; text never crosses a batch boundary. The one
    // corpus-GLOBAL decision — exact-dedup keeper election, min doc_id
    // per fingerprint — is an associative fold, so it assembles at
    // serve time as one aggregate over the folded metadata (a later
    // batch CAN steal keeper status from an earlier doc, which is why
    // the verdicts, not the mix, are the stream state). Oracle: t19's
    // verbatim — slicing the corpus must not change a row of the mix.
    sql("s19_stream_training_mix", TextQueries.trainingMixOracle) { (s, d) =>
      import graft.functions.TextFunctions
      import graft.operators.Dedup
      import s.implicits._
      val evalDocs = Tables.documents(s, d).filter(col("doc_id") % 97 === 0)
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      val init = Seq.empty[(Long, String, String, Double, Int, Double, Int)]
        .toDF("doc_id", "fp", "lang_pred", "quality", "n_tokens",
          "dup_token_frac", "clean")
      val folded = StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => {
          val k = batch.select(col("doc_id"),
            explode(array(struct(
              TextFunctions.fingerprint(col("text")).as("fp"),
              TextFunctions.langId(col("text")).as("lang_pred"),
              TextFunctions.qualityScore(col("text")).as("quality"),
              TextFunctions.tokenCount(col("text")).as("n_tokens"),
              round(element_at(TextFunctions.repetitionStats(col("text")), 1)
                + lit(1e-9), 4).as("dup_token_frac")))).as("k"))
            .select(col("doc_id"), col("k.fp"), col("k.lang_pred"),
              col("k.quality"), col("k.n_tokens"), col("k.dup_token_frac"))
          val verdict = Dedup.contamination(
              batch.filter(col("doc_id") % 97 =!= 0), evalDocs,
              col("text"), col("doc_id"), n = 8)
            .select(col("id").as("doc_id"),
              when(col("n_shared") === 0, 1).otherwise(0).as("clean"))
          state.unionByName(
            k.join(verdict, Seq("doc_id"), "left")
              .withColumn("clean", coalesce(col("clean"), lit(0))))
        })
      val keepers = folded.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id"))
      val h = substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1)
      folded.filter(col("doc_id") % 97 =!= 0)
        .join(keepers, "doc_id")
        .filter(col("clean") === 1 && col("quality") >= 0.5 &&
          col("lang_pred") =!= "und" && col("dup_token_frac") <= 0.9 &&
          when(col("lang_pred") === "en", h === "0").otherwise(h < "8"))
        .select(col("doc_id"), col("lang_pred"), col("quality"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // STREAMING cluster maintenance: t40's increment pairs arrive as
    // micro-batches and each batch folds into the stored components
    // table via Dedup.mergeComponents — the daily-crawl cadence run at
    // stream granularity. mergeComponents' OUTPUT satisfies its own
    // input precondition (star forest, min-id reps), so the fold is
    // associative (IncrementalComponentsSpec's composition law) and
    // the final table must equal the one-shot merge whatever the
    // slicing. Per batch the stored table is only broadcast-joined;
    // star contraction touches batch-sized contracted graphs only.
    // Oracle: t40's full-recompute closure verbatim.
    sql(
      "s20_stream_clusters",
      HashOracleSql.incrementalComponents(n = 3, k = 16, rowsPerBand = 4,
        threshold = 0.5, exactThreshold = 0.5, newPred = "doc_id % 5 = 0")) { (s, d) =>
      val stream = s.readStream
        .schema("id_a BIGINT, id_b BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(pairSliceDir(s, d))
      StreamingRelational.oneShotFold(s, stream,
          TextQueries.prebuiltOldComponents(s, d),
          // each micro-batch is one parquet slice of a distinct pair
          // log: already distinct, cheap to rescan — skip the
          // per-batch re-distinct + eager checkpoint (contractedMerge)
          (state, batch) => graft.operators.Dedup.mergeComponents(state, batch,
            newPairsDistinct = true, newPairsMaterialized = true))
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
        .orderBy(col("doc_id"))
    },

    // STREAMED cluster deletes — t41's takedown maintenance as an
    // ingestion stream (the s20 relationship, inverted): delete
    // batches arrive over micro-batches and each folds
    // removeFromComponents into the running state against the ONE
    // immutable verified-pair log. The fold composes because every
    // state is exactly connectedComponents(pairs among its survivors),
    // and pairs between still-surviving docs are never filtered by an
    // earlier round — so any slicing of the takedown set lands on the
    // same final table (a component may split only once its last
    // bridge doc's batch arrives). Oracle: t41's closure verbatim.
    sql(
      "s21_stream_cluster_deletes", TextQueries.clusterDeletesOracle) { (s, d) =>
      val stream = s.readStream
        .schema("id BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(deleteSliceDir(s, d))
      StreamingRelational.oneShotFold(s, stream,
          TextQueries.prebuiltComponents(s, d),
          // each delete batch is one parquet id slice — cheap to
          // rescan, so the per-batch takedown-set checkpoint is waste
          (state, batch) => graft.operators.Dedup.removeFromComponents(
            state, batch, TextQueries.prebuiltPairs(s, d),
            deletesMaterialized = true))
        .select(col("id").as("doc_id"), col("rep").as("rep_id"))
        .orderBy(col("doc_id"))
    },

    // STREAMING span detection: t51's incremental contract with the
    // increment arriving as micro-batches — per batch, only the
    // text-touching kernel pass runs ([[SpanDedup.gramsOf]], the s19
    // discipline: text never crosses a batch boundary; the fold state
    // is narrow (id, start0, gh) hash rows). Cross-doc qualification
    // is corpus-GLOBAL — a gram in batch 1 can become duplicated when
    // its twin arrives in batch 3 — so detection assembles once at
    // serve time over the folded grams + the stored index, making the
    // answer invariant to the stream's slicing. Oracle: t51's verbatim
    // (full-recompute equality) — slicing must not change a span.
    sql(
      "s22_stream_spans",
      HashOracleSql.duplicateSpans(k = 8, emitPred = Some("doc_id % 5 = 0"))) { (s, d) =>
      import graft.operators.SpanDedup
      import s.implicits._
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
        .filter(col("doc_id") % 5 === 0)
      val init = Seq.empty[(Long, Int, Long)].toDF("id", "start0", "gh")
      val grams = StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => state.unionByName(
          SpanDedup.gramsOf(batch, col("text"), col("doc_id"), 8)))
      SpanDedup.spansFromGrams(grams, TextQueries.spanGramIndex(s, d), 8)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    },

    // Char-granularity exact-substring dedup at ingestion cadence —
    // s22's companion one rung down the grid, on t69/t70's machinery:
    // each arriving batch pays its char-gram kernel ONCE (text never
    // leaves hash space; the fold state is bare (id, start0, gh)
    // rows), and serving runs the same qualification as the batch
    // operator against the stored char-gram index. Oracle: t70's
    // full-recompute substring SQL VERBATIM (slicing must not change
    // a span).
    sql(
      "s26_stream_substrings",
      HashOracleSql.duplicateCharSpans(L = 40, emitPred = Some("doc_id % 5 = 0"))) { (s, d) =>
      import graft.operators.SpanDedup
      import s.implicits._
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
        .filter(col("doc_id") % 5 === 0)
      val init = Seq.empty[(Long, Int, Long)].toDF("id", "start0", "gh")
      val grams = StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => state.unionByName(
          SpanDedup.charGramsOf(batch, col("text"), col("doc_id"), 40)))
      SpanDedup.spansFromGrams(grams, TextQueries.charSpanIndex(s, d), 40)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"), col("span_start"))
    },

    // STREAMING incremental Kneser-Ney (s32) — t79 at ingestion
    // cadence: each arriving batch pays its tokenize pass ONCE
    // (TextQueries.knTrigrams — text dies inside the batch; the fold
    // state is the Zipf-bounded per-doc trigram rows), and serving
    // merges the folded counts into the STORED trigram table by key
    // (pure sums) and re-derives every continuation count from the
    // merged key set — t79's proof that distinct counts re-derive, run
    // at stream granularity. Trivially slicing-invariant (the fold is
    // a row-map union); oracle: t79's VERBATIM.
    sql(
      "s32_stream_kneser_ney", TextQueries.knIncrementOracle) { (s, d) =>
      import s.implicits._
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
        .filter(col("doc_id") % 5 === 0)
      val init = Seq.empty[(Long, String, String, Long, String, String, String)]
        .toDF("doc_id", "lang", "g", "tf", "w1", "w2", "w3")
      val folded = StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => state.unionByName(TextQueries.knTrigrams(batch)))
      TextQueries.knScoreIncrement(s, d, folded)
    },

    // STREAMING per-source data card (s35) — t80 maintained at
    // ingestion cadence, the shape a 100 TB pipeline actually
    // publishes its datasheet in: each arriving micro-batch pays every
    // text kernel family ONCE (per-doc features, contamination
    // shingles for both splits, KN trigrams — the first
    // oneShotFoldMany consumer: four independent narrow states, text
    // dies inside the batch that carried it), and serving composes
    // t80's legs over the accumulated states — aggregations and
    // source-cardinality joins only, no kernel touches old data ever
    // again. Every fold is a row-map union and every serve statistic
    // is computed from the FINAL states (incl. the corpus-wide KN LM
    // re-derived from merged trigram rows — t79's discipline), so the
    // answer is slicing-invariant: the oracle is t80's VERBATIM.
    sql("s35_stream_data_card", TextQueries.dataCardOracle) { (s, d) =>
      import graft.operators.Dedup
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      val empty = Tables.documents(s, d).limit(0)
      val inits = Seq(
        TextQueries.dataCardFeat(empty),
        Dedup.contaminationShingles(empty, col("text"), col("doc_id"), n = 4),
        Dedup.contaminationShingles(empty, col("text"), col("doc_id"), n = 4),
        TextQueries.knTrigrams(empty))
      val st = StreamingRelational.oneShotFoldMany(s, stream, inits,
        (states, batch, _) => {
          val nz = batch.filter(col("source").isNotNull)
          Seq(
            states(0).unionByName(TextQueries.dataCardFeat(nz)),
            states(1).unionByName(Dedup.contaminationShingles(
              nz.filter(col("doc_id") % 97 =!= 0), col("text"), col("doc_id"), n = 4)),
            states(2).unionByName(Dedup.contaminationShingles(
              nz.filter(col("doc_id") % 97 === 0), col("text"), col("doc_id"), n = 4)),
            states(3).unionByName(TextQueries.knTrigrams(batch)))
        })
      TextQueries.dataCardServe(st(0), st(1), st(2), st(3))
    },

    // The trained classifier SERVED on the stream — the deployment
    // mode a learned filter actually runs in: weights are frozen (one
    // fit per data dir, shared with t53/t54), each micro-batch scores
    // row-locally (the s13 publish/quarantine discipline with a
    // LEARNED gate instead of a hand heuristic), and the fold state is
    // the scored rows themselves. Scoring is per-row, so the answer is
    // trivially slicing-invariant — the oracle is t53's full
    // train-then-score SQL VERBATIM (the s19 claim form).
    sql(
      "s23_stream_classifier",
      graft.operators.TextClassifier.oracleSql("text", "n_chars > 300", "doc_id")) { (s, d) =>
      import graft.operators.TextClassifier
      import s.implicits._
      val w = TextQueries.classifierWeights(s, d)
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      val init = Seq.empty[(Long, Long, Double, Long)].toDF("doc_id", "y", "score", "pred")
      StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => state.unionByName(
          TextClassifier.score(batch, col("text"), col("doc_id"),
              TextQueries.classifierLabel, w)
            .withColumnRenamed("id", "doc_id")))
        .orderBy(col("doc_id"))
    },

    // DSIR at ingestion cadence — t72's selection with the hash kernel
    // paid per arriving micro-batch: each batch featurizes row-locally
    // (text dies inside the batch — the s19 discipline; only ids,
    // target flags and int buckets enter the fold state), the final
    // ≤64-row count aggregate fits λ once at serve, and scoring is a
    // pure row map over the folded feature state. Counts are
    // associative and scoring is per-row under the FINAL λ, so the
    // answer is slicing-invariant — the oracle is t72's SQL VERBATIM.
    sql(
      "s27_stream_dsir",
      graft.operators.Dsir.oracleSql(
        "text", "n_chars > 300", "doc_id", threshold = 0.0)) { (s, d) =>
      import graft.operators.Dsir
      import s.implicits._
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      val init = Seq.empty[(Long, Int, Seq[Int])].toDF("id", "t", "bk")
      val feat = StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => state.unionByName(
          Dsir.features(batch, col("text"), col("doc_id"), col("n_chars") > 300)))
      Dsir.scoreFeatures(feat, Dsir.fitFromFeatures(feat), threshold = 0.0)
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // The trained unigram-LM tokenizer SERVED on the stream — the
    // deployment mode of t74 (the s23 frozen-weights discipline for a
    // frozen VOCAB): one fit per data dir (shared with t73/t74), each
    // micro-batch segments row-locally through the Viterbi kernel, and
    // the fold state is the scored rows themselves. Per-row scoring →
    // trivially slicing-invariant → t74's full train-then-serve oracle
    // VERBATIM.
    sql(
      "s30_stream_unigram",
      graft.operators.UnigramLm.serveOracleSql("text", "doc_id")) { (s, d) =>
      import s.implicits._
      val vocab = TextQueries.unigramVocab(s, d)
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      val init = Seq.empty[(Long, Long, Long, Double)]
        .toDF("doc_id", "n_words", "n_pieces", "fertility")
      StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => state.unionByName(
          graft.operators.UnigramLm.tokenStats(batch, col("text"), col("doc_id"), vocab)
            .withColumnRenamed("id", "doc_id")))
        .orderBy(col("doc_id"))
    },

    // t77's EXACT containment join at ingestion cadence: each arriving
    // micro-batch's new docs (doc_id % 5 = 0) probe the PREBUILT
    // feature index of the existing corpus — old text never re-scanned
    // (the t25/t51 idiom). Losslessness needs BOTH probe directions
    // (either side can be the small one), and new↔new pairs are never
    // probed, so the per-batch answer is slicing-invariant by
    // construction and the oracle is t77's semantics restricted to
    // exactly-one-new-side pairs.
    sql(
      "s29_stream_containment",
      TextQueries.containmentOracle("(a.id % 5 = 0) <> (b.id % 5 = 0)")) { (s, d) =>
      import s.implicits._
      val stored = TextQueries.containmentIndex(s, d).localCheckpoint()
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      val init = Seq.empty[(Long, Long, Double)].toDF("small_id", "big_id", "containment")
      StreamingRelational.oneShotFold(s, stream, init,
        (state, batch) => state.unionByName(
          graft.operators.Dedup.incrementalContainment(
            batch.filter(col("doc_id") % 5 === 0), col("text"), col("doc_id"),
            stored, n = 3, tauP = 7, tauQ = 10)))
        .orderBy(col("small_id"), col("big_id"))
    },

    // q62's Bloom sidecar MAINTAINED at ingestion cadence: the stream
    // appends whole files to the range layout (s25's intent/applied
    // replay discipline), and after each epoch refreshBloomIndex
    // indexes ONLY the files the sidecar does not name yet — per-file
    // filters compose, nothing existing is rewritten, and a crash
    // mid-refresh just leaves files un-indexed (bloomLookup reads them
    // conservatively: pruning degrades, correctness never). Serve is
    // q62's point lookup — and must equal the PLAIN IN-filter however
    // the stream sliced. The complete secondary-index story: layout +
    // streaming ingest + incremental bloom maintenance + pruned serve.
    sql("s28_stream_bloom_ingest", RelationalQueries.bloomLookupOracle) { (s, d) =>
      import graft.operators.RangeLayout
      import s.implicits._
      val dirP = PerDir.scratch("stream-bloom")
      val dir = dirP.resolve("t").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      RangeLayout.write(ev.filter(Tables.inLowMd5Half(col("event_id"))), "ts", 16, dir)
      RangeLayout.writeBloomIndex(s, dir, "event_id")
      val stream = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(highEventSliceDir(s, d))
      val state = StreamingRelational.oneShotFoldMany(s, stream,
        Seq(Seq(0L).toDF("n_indexed")),
        (st, batch, epoch) => {
          graft.operators.EpochState.once(dirP, epoch)(RangeLayout.append(batch, "ts", dir))
          // idempotent by construction: indexes only sidecar-missing files
          val n = RangeLayout.refreshBloomIndex(s, dir, "event_id")
          Seq(st.head.select((col("n_indexed") + n.toLong).as("n_indexed")))
        }).head
      require(state.head().getLong(0) >= 3L,
        "s28: the incremental refresh should have indexed appended files")
      val (data, read, total) = RangeLayout.bloomLookup(
        s, dir, "event_id", RelationalQueries.bloomLookupKeys(s, d))
      require(read < total, s"s28: blooms pruned nothing ($read of $total files)")
      data.select(col("event_id"), col("event_type"),
          round(col("value") + lit(1e-9), 2).as("value_r"))
        .orderBy(col("event_id"))
    },

    // The WHOLE crawl-preprocessing chain (t65) run at ingestion
    // cadence: raw pages arrive as micro-batches, each batch pays its
    // extraction + line-dedup + gate kernels ONCE (all per-row — the
    // s19 discipline: page text never crosses a batch boundary), and
    // the fold state is the narrow verdict table. Gating at serve is a
    // row filter, so the answer is trivially slicing-invariant —
    // the oracle is t65's full-pipeline SQL VERBATIM.
    // STREAMING range-layout ingestion — q60's table maintained at
    // micro-batch cadence (the s15 side-effect discipline): the layout
    // is created from the low-md5 half, each arriving batch APPENDS
    // under the stored bounds (only its buckets' directories gain
    // files), with per-epoch idempotence markers because foreachBatch
    // is at-least-once and a re-delivered append would double rows.
    // Serving is q60's footer-pruned range scan — and the answer must
    // equal the PLAIN-table oracle verbatim, however the stream
    // sliced. The complete event-log story: range layout + streaming
    // ingest + min/max-skipped serving.
    sql("s25_stream_range_ingest", RelationalQueries.rangeWindowOracle) { (s, d) =>
      import graft.operators.RangeLayout
      import s.implicits._
      val dirP = PerDir.scratch("stream-range")
      val dir = dirP.resolve("t").toString
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      RangeLayout.write(ev.filter(Tables.inLowMd5Half(col("event_id"))), "ts", 16, dir)
      val stream = s.readStream
        .schema("event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(highEventSliceDir(s, d))
      val state = StreamingRelational.oneShotFoldMany(s, stream,
        Seq(Seq(0L).toDF("n_batches")),
        (st, batch, epoch) => {
          // s15's replay discipline: a re-delivered append never runs twice
          graft.operators.EpochState.once(dirP, epoch)(RangeLayout.append(batch, "ts", dir))
          Seq(st.head.select((col("n_batches") + 1L).as("n_batches")))
        }).head
      require(state.head().getLong(0) >= 3L, "s25: expected three arriving batches")
      val lo = java.time.Instant.parse("2024-01-10T00:00:00Z").toEpochMilli * 1000L
      val hi = java.time.Instant.parse("2024-01-13T00:00:00Z").toEpochMilli * 1000L
      val (data, read, total) = RangeLayout.prunedScan(s, dir, "ts", lo, hi)
      require(read < total,
        s"s25: footer stats pruned nothing ($read of $total files)")
      data.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")) + 1e-9, 2).as("sum_value"),
          min(col("event_id")).as("min_event"), max(col("event_id")).as("max_event"))
        .orderBy(col("event_type"))
    },

    sql("s24_stream_crawl", TextQueries.crawlPipelineOracle) { (s, d) =>
      import s.implicits._
      val stream = s.readStream
        .schema("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT")
        .option("maxFilesPerTrigger", 1)
        .parquet(documentSliceDir(s, d))
      val init = Seq.empty[(Long, Long, String, Double, Int, String)]
        .toDF("doc_id", "n_lines", "lang_pred", "quality", "n_tokens", "fp")
      TextQueries.crawlGate(
          StreamingRelational.oneShotFold(s, stream, init,
            (state, batch) => state.unionByName(TextQueries.crawlVerdicts(batch))))
        .orderBy(col("doc_id"))
    }
  )

  /** s25/s28's arrival fixture: the high-md5 half of events (the
    * range layout's columns) in three micro-batches sliced by
    * event_id % 3 — the increment both streams append to a layout
    * created from the low half. Read-only, so the two queries share
    * it; each still builds its own layout, which it mutates. */
  private val highEventSliceCache = new PerDir[String]

  private def highEventSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    highEventSliceCache(d) {
      val high = Tables.events(s, d)
        .filter(!Tables.inLowMd5Half(col("event_id")))
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
        .localCheckpoint(true)
      orderedArrivalDir(s, "high-event-slices", thirds(high, col("event_id")))
    }

  /** s21's arrival fixture: the t41 takedown set (doc_id % 7 = 3) in
    * three ordered micro-batches sliced by doc_id % 3 — a component
    * can lose members across SEVERAL batches before the split
    * finally happens, which is exactly what the fold must absorb. */
  private val deleteSliceCache = new PerDir[String]

  private def deleteSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    deleteSliceCache(d) {
      val del = Tables.documents(s, d).filter(col("doc_id") % 7 === 3)
        .select(col("doc_id").as("id")).localCheckpoint(true)
      orderedArrivalDir(s, "delete-slices", thirds(del, col("id")))
    }

  /** s20's arrival fixture: t40's increment pair set (t25 new-old
    * pairs + new-new verified pairs) in three ordered micro-batches
    * sliced by id_a % 3 — slices are NOT closure-safe on their own
    * (a bridge pair can arrive two batches after the clusters it
    * joins), which is exactly what the associative fold must absorb. */
  private val pairSliceCache = new PerDir[String]

  private def pairSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    pairSliceCache(d) {
      import graft.operators.Dedup
      val newDocs = Tables.documents(s, d).filter(col("doc_id") % 5 === 0)
      val incr = Dedup.incrementalNearDups(newDocs, col("text"), col("doc_id"),
          TextQueries.dedupIndex(s, d))
        .select(col("new_id").as("id_a"), col("dup_of").as("id_b"))
      val nn = Dedup.minHashPairsVerified(newDocs, col("text"), col("doc_id"),
          threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val pairs = incr.unionByName(nn).localCheckpoint(true)
      orderedArrivalDir(s, "pair-slices", thirds(pairs, col("id_a")))
    }

  /** s14's arrival fixture: the CDC change feed in three
    * seq-CONTIGUOUS micro-batches (thirds of the seq range) — netting
    * only composes when later batches carry later log positions per
    * key, which range slicing guarantees globally. */
  private val cdcSliceCache = new PerDir[String]

  private def cdcSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    cdcSliceCache(d) {
      val chg = RelationalQueries.cdcChanges(s, d)
      val bounds = chg.agg(min(col("seq")), max(col("seq"))).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      orderedArrivalDir(s, "cdc-slices", Seq(
        chg.filter(col("seq") <= t1),
        chg.filter(col("seq") > t1 && col("seq") <= t2),
        chg.filter(col("seq") > t2)))
    }

  /** s16's arrival fixture: the orders fact (view columns only) in
    * three orderkey-range micro-batches — insert-only single-sided
    * IVM is slicing-invariant, so any partition works. */
  private val ordersSliceCache = new PerDir[String]

  private def ordersSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    ordersSliceCache(d) {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"), col("o_totalprice"))
      val bounds = o.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val (t1, t2) = (lo + (hi - lo) / 3, lo + 2 * ((hi - lo) / 3))
      orderedArrivalDir(s, "orders-slices", Seq(
        o.filter(col("o_orderkey") <= t1),
        o.filter(col("o_orderkey") > t1 && col("o_orderkey") <= t2),
        o.filter(col("o_orderkey") > t2)))
    }

  /** s13's arrival fixture: the events table (gate columns only) in
    * three id-sliced micro-batches — any slicing works; row-local
    * checks make the quarantine batch-invariant. */
  private val eventSliceCache = new PerDir[String]

  private def eventSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    eventSliceCache(d) {
      val ev = Tables.events(s, d)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
      orderedArrivalDir(s, "event-slices", thirds(ev, col("event_id")))
    }

  /** s12's arrival fixture: the documents table in three md5-sliced
    * micro-batches (any slicing works — CMS linearity is the claim). */
  private val docSliceCache = new PerDir[String]

  private def documentSliceDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    docSliceCache(d) {
      val docs = Tables.documents(s, d)
      orderedArrivalDir(s, "doc-slices", thirds(docs, col("doc_id")))
    }

  /** s09's arrival fixture, once per sf-dir: four parquet files with
    * strictly increasing mtimes so `maxFilesPerTrigger=1` under
    * AvailableNow replays them as four ordered micro-batches —
    * 0001 = the low-md5 half minus the max-ts rows (spans the whole
    * month), 0002 = the max-ts "heartbeat" rows (their batch promotes
    * max(ts)-1h from eviction-watermark to LATE-FILTER watermark —
    * Spark filters late records against the PREVIOUS batch's
    * watermark, so without this batch nothing in 0003 would drop),
    * 0003 = the high half (almost all of it now late), 0004 = the
    * far-future sentinel whose batch pushes the watermark past every
    * real window so the final no-data micro-batch flushes them (its
    * own window stays open and never reaches the append sink —
    * eventsStreamWithSentinel's exclusion argument). */
  private val lateArrivalCache = new PerDir[String]

  private def lateArrivalDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    lateArrivalCache(d) {
      import s.implicits._
      val ev = Tables.events(s, d)
      val mx = ev.agg(max(col("ts"))).head().getTimestamp(0)
      orderedArrivalDir(s, "late-arrival", Seq(
        ev.filter(Tables.inLowMd5Half(col("event_id")) && col("ts") < lit(mx)),
        ev.filter(col("ts") === lit(mx)),
        ev.filter(!Tables.inLowMd5Half(col("event_id")) && col("ts") < lit(mx)),
        Seq((-1L, java.sql.Timestamp.valueOf("2100-01-01 00:00:00"), -1L,
          "__sentinel__", 0.0, "{}"))
          .toDF("event_id", "ts", "user_id", "event_type", "value", "props")))
    }

  /** `df` as three arrival slices: `key % 3` = 0, 1, 2, in that order. */
  private[queries] def thirds(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.DataFrame] =
    (0 until 3).map(k => df.filter(key % 3 === k))

  /** Write `slices` as one parquet file each, strictly increasing
    * mtimes, into a fresh stream-input directory — the replayable
    * ordered-arrival primitive behind s09 and s11: with
    * `maxFilesPerTrigger=1` under AvailableNow, slice k IS micro-batch
    * k. */
  private[queries] def orderedArrivalDir(s: org.apache.spark.sql.SparkSession,
      tag: String, slices: Seq[org.apache.spark.sql.DataFrame]): String = {
    import java.nio.file.{Files, Paths}
    val base = PerDir.scratch(tag)
    val streamDir = Files.createDirectories(Paths.get(s"$base/in"))
    val t0 = System.currentTimeMillis() - 60000
    slices.zipWithIndex.foreach { case (df, k) =>
      val name = f"${k + 1}%04d.parquet"
      val tmp = s"$base/tmp_$name"
      df.coalesce(1).write.parquet(tmp)
      import scala.jdk.CollectionConverters._
      val listing = Files.list(Paths.get(tmp))
      val part =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
        finally listing.close()
      val dest = streamDir.resolve(name)
      Files.move(part, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(t0 + 10000L * k))
    }
    streamDir.toString
  }

  /** s11's arrival fixture: the events log sliced into four
    * time-contiguous weeks, arriving oldest-first — the in-order
    * increment stream SCD2 maintenance consumes. */
  private val scd2ArrivalCache = new PerDir[String]

  private def scd2ArrivalDir(s: org.apache.spark.sql.SparkSession, d: String): String =
    scd2ArrivalCache(d) {
      val ev = Tables.events(s, d)
      def wk(lo: String, hi: String) = ev.filter(
        col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
      orderedArrivalDir(s, "scd2-arrival", Seq(
        wk("1900-01-01 00:00:00", "2024-01-08 00:00:00"),
        wk("2024-01-08 00:00:00", "2024-01-16 00:00:00"),
        wk("2024-01-16 00:00:00", "2024-01-24 00:00:00"),
        wk("2024-01-24 00:00:00", "2100-01-01 00:00:00")))
    }
}
