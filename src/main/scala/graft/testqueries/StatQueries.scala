package graft.testqueries

import org.apache.spark.sql.functions._
import graft.ops.{Sketches, TextAnalysis}

/** Statistics / decontamination batch — q102-q108: mergeable
  * log-histogram quantiles (the fixed-state scale path next to q47's
  * exact percentiles, the way IVF sits next to brute-force ANN),
  * containment-scored benchmark decontamination (q70's hit count
  * generalized to the thresholded overlap fraction), and the KMV
  * distinct sketch (the oracle-checkable counterpart of the
  * incremental layer's HLL state). All keep the integer-arithmetic
  * discipline end to end: bucket ids from binary digit counts and
  * shifts, rank / containment / estimation by integer
  * cross-multiplication and floor division — zero FP anywhere, so
  * every value replays bit-for-bit in the oracle at every scale
  * factor.
  */
object StatQueries {
  import Tables._

  /** q103 containment threshold (percent). 25 on the synthetic corpus
    * exercises both verdicts: exact duplicates of benchmark docs sit
    * at 100%, unrelated docs share only stop-word 4-grams. */
  private val ContainPct = 25

  /** q104 min-set size: 64 sits below the per-type distinct-user
    * cardinality at every sf (the estimator branch is live), with
    * ~1/sqrt(62) ≈ 13% standard error displayed against the exact
    * count; the exact branch (distinct < k) is spec-covered. */
  private val KmvK = 64

  /** q107 per-window min-set size. 32 < per-type distinct users at
    * every sf, so the rollup exercises full-set estimation; smaller
    * than q104's k so the two sketch queries pin different
    * geometries. */
  private val WinK = 32

  def all: Seq[QueryDef] = Seq(

    // Approximate per-group quantiles from a mergeable log histogram
    // (HdrHistogram bucketing): the histogram shuffle is sketch-sized
    // (map-side combine -> at most ~1k buckets per group), where the
    // exact-percentile form must carry every raw value to its group.
    // p50/p90/p99 of price cents per returnflag; the estimate is the
    // floor of the bucket containing the rank, within 1/16 relative
    // error — and deterministic, because bucket ids, cumulative ranks
    // and the rank test (cum*den >= total*num, integer ceil) never
    // touch FP.
    QueryDef("q102_quantile_hist",
      (s, d) => {
        val cents = floor(col("l_extendedprice") * 100)
        val hist = Sketches.logHistogram(lineitem(s, d),
          Seq("l_returnflag"), cents)
        Sketches.histQuantiles(hist, Seq("l_returnflag"),
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
          .orderBy("l_returnflag")
      },
      Some("""WITH v AS (
          SELECT l_returnflag AS flag,
            CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem),
        b AS (
          SELECT flag,
            CASE WHEN cents < 32 THEN cents
              ELSE 32 + (length(bin(cents)) - 6) * 16
                + (cents >> (length(bin(cents)) - 5)) - 16
            END AS bucket
          FROM v),
        h AS (
          SELECT flag, bucket, COUNT(*) AS cnt
          FROM b GROUP BY flag, bucket),
        c AS (
          SELECT flag, bucket, cnt,
            SUM(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
            SUM(cnt) OVER (PARTITION BY flag) AS total
          FROM h),
        f AS (
          SELECT flag, cum, total,
            CASE WHEN bucket < 32 THEN bucket
              ELSE (16 + (bucket - 32) % 16) << ((bucket - 32) // 16 + 1)
            END AS lb
          FROM c)
        SELECT flag AS l_returnflag, CAST(MAX(total) AS BIGINT) AS n,
          CAST(MIN(CASE WHEN cum * 2 >= total * 1 THEN lb END)
            AS BIGINT) AS p50,
          CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN lb END)
            AS BIGINT) AS p90,
          CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN lb END)
            AS BIGINT) AS p99
        FROM f GROUP BY flag ORDER BY l_returnflag""")),

    // Containment-scored decontamination: per corpus doc, the distinct
    // 4-gram count, the count shared with the benchmark split, and the
    // integer-thresholded contamination verdict — one broadcast LEFT
    // join in the scan stage + one per-doc aggregation (no second
    // corpus pass, no doc-pair work; see TextAnalysis.contaminationScore).
    QueryDef("q103_contamination_score",
      (s, d) => {
        val docs = documents(s, d)
        QueryDef.sortedP(
          TextAnalysis.contaminationScore(
            docs.filter(col("doc_id") % 50 =!= 0),
            docs.filter(col("doc_id") % 50 === 0),
            "doc_id", "text", n = 4, thresholdPct = ContainPct),
          col("doc_id"))
      },
      Some(s"""WITH c AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
          WHERE doc_id % 50 <> 0 AND length(trim(text)) > 0),
        b AS (
          SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
          FROM documents
          WHERE doc_id % 50 = 0 AND length(trim(text)) > 0),
        shc AS (SELECT DISTINCT doc_id,
            ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
              AS s
          FROM c, UNNEST(range(1, len(ws) - 2)) t(i)),
        shb AS (SELECT DISTINCT
            ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]
              AS s
          FROM b, UNNEST(range(1, len(ws) - 2)) t(i)),
        j AS (
          SELECT shc.doc_id, shc.s,
            CASE WHEN shb.s IS NOT NULL THEN 1 ELSE 0 END AS hit
          FROM shc LEFT JOIN shb ON shc.s = shb.s)
        SELECT doc_id,
          CAST(COUNT(DISTINCT s) AS BIGINT) AS n_shingles,
          CAST(COUNT(DISTINCT CASE WHEN hit = 1 THEN s END) AS BIGINT)
            AS n_shared,
          (COUNT(DISTINCT CASE WHEN hit = 1 THEN s END) * 100
            >= COUNT(DISTINCT s) * ${ContainPct}) AS contaminated
        FROM j GROUP BY doc_id ORDER BY doc_id""")),

    // KMV distinct sketch vs exact count per event type: the k-th
    // smallest distinct portable hash positions the estimate
    // ((k-1)*|H| div h_k — integer floor division, bit-portable),
    // map-side state capped at k longs per group where the exact
    // COUNT(DISTINCT) shuffles every distinct user. Both columns in
    // one artifact, like q92's sketch-vs-exact table.
    QueryDef("q104_kmv_distinct", {
      (s, d) =>
        val ev = events(s, d)
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_n"))
        val est = Sketches.kmvDistinct(ev, Seq("event_type"),
          col("user_id"), KmvK)
        QueryDef.sorted1(exact.join(est, "event_type"),
          col("event_type"))
    },
      Some(s"""WITH ex AS (
          SELECT event_type, COUNT(DISTINCT user_id) AS exact_n
          FROM events GROUP BY event_type),
        h AS (
          SELECT DISTINCT event_type,
            ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              ::BIGINT AS hv
          FROM events),
        r AS (
          SELECT event_type, hv,
            row_number() OVER (PARTITION BY event_type ORDER BY hv)
              AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS nd
          FROM h),
        est AS (
          SELECT event_type,
            CASE WHEN MAX(nd) < ${KmvK} THEN MAX(nd)
              ELSE CAST((${KmvK - 1}::HUGEINT *
                  ${graft.functions.Fns.Hash60Space}::HUGEINT)
                // MAX(CASE WHEN rn = ${KmvK} THEN hv END) AS BIGINT)
            END AS est_n
          FROM r GROUP BY event_type)
        SELECT event_type, CAST(exact_n AS BIGINT) AS exact_n,
          CAST(est_n AS BIGINT) AS est_n
        FROM ex JOIN est USING (event_type)
        ORDER BY event_type""")),

    // Incremental quantile maintenance: histograms are monoids, so
    // quantiles(merge(hist(base), hist(delta))) is BIT-IDENTICAL to
    // quantiles over the full table — the q68 mergeable-state
    // discipline applied to the quantile path. The oracle computes the
    // one-shot form; the Spark side computes the merge form; the hash
    // match IS the monoid proof at data scale. At 100 TB this replaces
    // the nightly full re-scan with a delta-sized histogram union.
    QueryDef("q105_incremental_quantiles",
      (s, d) => {
        val li = lineitem(s, d)
        val cents = floor(col("l_extendedprice") * 100)
        val base = Sketches.logHistogram(
          li.filter(col("l_orderkey") % 5 =!= 0), Seq("l_linestatus"),
          cents)
        val delta = Sketches.logHistogram(
          li.filter(col("l_orderkey") % 5 === 0), Seq("l_linestatus"),
          cents)
        val merged = base.union(delta)
          .groupBy("l_linestatus", "bucket").agg(sum("cnt").as("cnt"))
        Sketches.histQuantiles(merged, Seq("l_linestatus"),
            Seq(("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)))
          .orderBy("l_linestatus")
      },
      Some("""WITH v AS (
          SELECT l_linestatus AS flag,
            CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem),
        b AS (
          SELECT flag,
            CASE WHEN cents < 32 THEN cents
              ELSE 32 + (length(bin(cents)) - 6) * 16
                + (cents >> (length(bin(cents)) - 5)) - 16
            END AS bucket
          FROM v),
        h AS (
          SELECT flag, bucket, COUNT(*) AS cnt
          FROM b GROUP BY flag, bucket),
        c AS (
          SELECT flag, bucket, cnt,
            SUM(cnt) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
            SUM(cnt) OVER (PARTITION BY flag) AS total
          FROM h),
        f AS (
          SELECT flag, cum, total,
            CASE WHEN bucket < 32 THEN bucket
              ELSE (16 + (bucket - 32) % 16) << ((bucket - 32) // 16 + 1)
            END AS lb
          FROM c)
        SELECT flag AS l_linestatus, CAST(MAX(total) AS BIGINT) AS n,
          CAST(MIN(CASE WHEN cum * 2 >= total * 1 THEN lb END)
            AS BIGINT) AS p50,
          CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN lb END)
            AS BIGINT) AS p90,
          CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN lb END)
            AS BIGINT) AS p99
        FROM f GROUP BY flag ORDER BY l_linestatus""")),

    // Sketch-guided corpus filter: per-language p90 length threshold
    // read off the log histogram, broadcast back (one row per
    // language), kept docs filtered in the scan stage — the
    // "keep the long tail" curation step with the threshold computed
    // from a histogram-sized aggregate instead of a per-group sort of
    // every document length.
    QueryDef("q106_quantile_threshold_filter",
      (s, d) => {
        val docs = documents(s, d)
        val hist = Sketches.logHistogram(docs, Seq("lang"),
          col("n_chars"))
        val thr = Sketches.histQuantiles(hist, Seq("lang"),
            Seq(("p90", 9, 10)))
          .select(col("lang"), col("p90"))
        QueryDef.sortedP(
          docs.join(broadcast(thr), "lang")
            .filter(col("n_chars") >= col("p90"))
            .select(col("doc_id"), col("lang"), col("n_chars"),
              col("p90")),
          col("doc_id"))
      },
      Some("""WITH b AS (
          SELECT lang, doc_id, n_chars,
            CASE WHEN n_chars < 32 THEN n_chars
              ELSE 32 + (length(bin(n_chars)) - 6) * 16
                + (n_chars >> (length(bin(n_chars)) - 5)) - 16
            END AS bucket
          FROM documents),
        h AS (
          SELECT lang, bucket, COUNT(*) AS cnt
          FROM b GROUP BY lang, bucket),
        c AS (
          SELECT lang, bucket, cnt,
            SUM(cnt) OVER (PARTITION BY lang ORDER BY bucket) AS cum,
            SUM(cnt) OVER (PARTITION BY lang) AS total
          FROM h),
        f AS (
          SELECT lang, cum, total,
            CASE WHEN bucket < 32 THEN bucket
              ELSE (16 + (bucket - 32) % 16) << ((bucket - 32) // 16 + 1)
            END AS lb
          FROM c),
        thr AS (
          SELECT lang,
            CAST(MIN(CASE WHEN cum * 10 >= total * 9 THEN lb END)
              AS BIGINT) AS p90
          FROM f GROUP BY lang)
        SELECT doc_id, d.lang AS lang, n_chars, p90
        FROM documents d JOIN thr ON d.lang = thr.lang
        WHERE n_chars >= p90
        ORDER BY doc_id""")),

    // Windowed sketch rollup — the "daily uniques -> monthly uniques"
    // path: one KMV min-set per (event_type, day), rolled up to a
    // global per-type sketch by re-sketching the daily min-sets. The
    // union of per-window min-sets CONTAINS the global k smallest
    // hashes (each is within its own window's k smallest), so the
    // rollup is LOSSLESS — the oracle computes the one-shot global
    // sketch and the hash match proves the rollup identity at data
    // scale. Daily sketches persist at window close; any date range
    // re-aggregates k longs per window instead of re-scanning events.
    QueryDef("q107_windowed_kmv_rollup", {
      (s, d) =>
        import graft.plans.KmvAgg
        import graft.functions.Fns
        val ev = events(s, d)
        val h = Fns.portableHash60(col("user_id").cast("string"))
        val daily = ev
          .groupBy(col("event_type"),
            date_trunc("day", col("ts")).as("day"))
          .agg(KmvAgg.kmv(h, WinK).as("mins"))
          .localCheckpoint(true) // both consumers below read it
        val rolled = daily
          .select(col("event_type"), explode(col("mins")).as("h"))
          .groupBy("event_type")
          .agg(KmvAgg.kmv(col("h"), WinK).as("mins"))
          .select(col("event_type"),
            Sketches.kmvEstimate(col("mins"), WinK).as("est_n"))
        val days = daily.groupBy("event_type")
          .agg(count(lit(1)).as("n_days"))
        val exact = ev.groupBy("event_type")
          .agg(countDistinct(col("user_id")).as("exact_n"))
        QueryDef.sorted1(
          exact.join(days, "event_type").join(rolled, "event_type"),
          col("event_type"))
    },
      Some(s"""WITH ex AS (
          SELECT event_type, COUNT(DISTINCT user_id) AS exact_n
          FROM events GROUP BY event_type),
        days AS (
          SELECT event_type,
            COUNT(DISTINCT date_trunc('day', CAST(ts AS TIMESTAMP)))
              AS n_days
          FROM events GROUP BY event_type),
        h AS (
          SELECT DISTINCT event_type,
            ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
              ::BIGINT AS hv
          FROM events),
        r AS (
          SELECT event_type, hv,
            row_number() OVER (PARTITION BY event_type ORDER BY hv)
              AS rn,
            COUNT(*) OVER (PARTITION BY event_type) AS nd
          FROM h),
        est AS (
          SELECT event_type,
            CASE WHEN MAX(nd) < ${WinK} THEN MAX(nd)
              ELSE CAST((${WinK - 1}::HUGEINT *
                  ${graft.functions.Fns.Hash60Space}::HUGEINT)
                // MAX(CASE WHEN rn = ${WinK} THEN hv END) AS BIGINT)
            END AS est_n
          FROM r GROUP BY event_type)
        SELECT event_type, CAST(exact_n AS BIGINT) AS exact_n,
          CAST(n_days AS BIGINT) AS n_days,
          CAST(est.est_n AS BIGINT) AS est_n
        FROM ex JOIN days USING (event_type) JOIN est USING (event_type)
        ORDER BY event_type""")),

    // Streaming exact dedup, oracle-gated end to end (the q58
    // discipline applied to the dedup-at-ingest operator): the source
    // events are written out DOUBLED, streamed back through
    // `dropDuplicates(event_id)` (global state across micro-batches —
    // the exactness path; the bounded-state
    // `dropDuplicatesWithinWatermark` variant is spec-covered in
    // ScaleOpsSpec), appended to a parquet sink, and the declared
    // aggregation over the sink must hash-match the oracle computed on
    // the ORIGINAL un-doubled table — the whole
    // duplicate → stream → dedup → sink loop is what's verified.
    QueryDef("q108_stream_dedup", {
      (s, d) =>
        // the stream into the sink is a set-up; it yields the sink dir
        // and its schema
        val (sink, schema) = QueryDef.setupOnce(s, d, "q108") {
          val tmp = java.nio.file.Files
            .createTempDirectory("q108").toString
          val src = s"$tmp/src"
          val out = s"$tmp/out"
          val ev = events(s, d)
          ev.union(ev).write.mode("overwrite").parquet(src)
          graft.lake.ParquetFormat.stream(s, ev.schema, src)
            .dropDuplicates("event_id")
            .writeStream
            .outputMode("append")
            .option("checkpointLocation", s"$tmp/ck")
            .trigger(org.apache.spark.sql.streaming.Trigger
              .AvailableNow())
            .start(out)
            .awaitTermination()
          (out, ev.schema)
        }
        // a user schema skips inference; Spark still resolves the sink
        // dir through its `_spark_metadata` log
        s.read.schema(schema).parquet(sink).groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            graft.functions.Fns.sumDec(col("value")).as("total"))
          .orderBy("event_type")
    },
      Some("""SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM events GROUP BY event_type ORDER BY event_type"""))
  )
}
