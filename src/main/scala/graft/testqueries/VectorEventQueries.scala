package graft.testqueries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Similarity search over embeddings, event-time windowing,
  * sessionization, set operations, and multimodal binary-column
  * plumbing — the remaining SURVEY §7 extension families, each with a
  * DuckDB oracle.
  */
object VectorEventQueries {

  /** q58's side-effecting gate: synthesize arena cell exports from
    * lineitem (1/7 of orders), run them through the REAL streaming
    * ingest (readStream → AvailableNow → foreachBatch → single-shuffle
    * clustered lakehouse append, checkpointed). Returns the ingested
    * lakehouse the declared stats query reads. */
  private def runQ58StreamGate(s: org.apache.spark.sql.SparkSession,
      d: String): graft.lake.Lakehouse = {
    val tmp = java.nio.file.Files.createTempDirectory("q58").toString
    val cellsDir = s"$tmp/cells"
    // same cell synthesis as tools/IngestBench:
    // 3 cells (op / input_value / value) per lineitem row
    Tables.lineitem(s, d).filter(pmod(col("l_orderkey"), lit(7)) === 0)
      .select(
        concat(lit("run"), (col("l_orderkey") % 8).cast("string"))
          .as("EXECUTIONID"),
        concat(lit("p"), (col("l_orderkey") % 20).cast("string"))
          .as("ABSTRACTIONID"),
        concat(lit("sys"), (col("l_suppkey") % 50).cast("string"))
          .as("SYSTEMID"),
        lit("").as("VARIANTID"), lit("0").as("ADAPTERID"),
        concat(lit("t"), (col("l_partkey") % 100).cast("string"))
          .as("SHEETID"),
        lit("arena1").as("ARENAID"),
        col("l_linenumber").as("Y"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"))
      .selectExpr("EXECUTIONID", "ABSTRACTIONID", "SYSTEMID",
        "VARIANTID", "ADAPTERID", "SHEETID", "ARENAID", "Y",
        """stack(3,
          1, 'op', 'invoke', CAST(l_quantity AS DOUBLE),
          2, 'input_value', CAST(l_discount AS STRING),
            CAST(l_quantity AS DOUBLE),
          3, 'value', CAST(l_extendedprice AS STRING),
            CAST(l_quantity AS DOUBLE))
          AS (X, TYPE, VALUE, EXECUTIONTIME)""")
      .write.mode("overwrite").parquet(cellsDir)
    val lake = new graft.lake.Lakehouse(s, s"$tmp/wh")
    graft.streaming.EventsStreaming.streamArenaIngest(s, cellsDir,
        graft.lake.ParquetRead.schemaOf(s, cellsDir).get, lake, "stream1",
        s"$tmp/ck")
      .awaitTermination()
    lake
  }
  import Tables._

  val all: Seq[QueryDef] = Seq(

    // LSH-bucketed ANN top-k under the oracle gate (was the one
    // spec-only ANN path): the sign-random-projection buckets are
    // deterministic given the fixed md5-derived hyperplanes —
    // Fns.portableHash60's DuckDB mirror replays each plane component
    // exactly, so the oracle rebuilds the SAME buckets, joins within
    // them, and ranks by in-bucket cosine. Ranking runs on 6-dp-ROUNDED
    // sims on BOTH sides (ADVICE r10: the q25 discipline, now applied
    // inside Similarity.rankTopK — rank parity no longer depends on
    // cross-engine last-bit FP agreement; 6-dp ties break on c_id).
    // queryBroadcast pinned: the caller KNOWS the query set is 8 rows
    // (size-only stats estimate the filtered slice at the full table's
    // bytes and would demote to the shard-scale shuffle path at sf3+;
    // q117 covers that path explicitly).
    QueryDef("q114_lsh_topk",
      (s, d) => {
        val e = embeddings(s, d)
        graft.ops.Similarity.lshTopK(e, e.filter(col("vec_id") < 8),
            "vec_id", "embedding", k = 5, planes = 8, dims = 64,
            queryBroadcast = Some(true))
          .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
          .transform(QueryDef.sorted1(_, col("q_id"), col("rank")))
      },
      Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      dots AS (
        SELECT e.vec_id, t.p,
          list_sum(list_transform(range(1, len(e.v) + 1),
            i -> e.v[i] * ((('0x' || substr(md5('plane' || t.p || ':'
              || (i - 1)), 1, 15))::BIGINT
              / 576460752303423488.0) - 1.0))) AS dot
        FROM e, range(0, 8) t(p)),
      buck AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
            AS bucket
        FROM dots GROUP BY vec_id),
      be AS (SELECT e.vec_id, e.v, buck.bucket
        FROM e JOIN buck USING (vec_id)),
      sim AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM be c JOIN be q
          ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
        WHERE q.vec_id < 8)
      SELECT q_id, c_id, sim,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          AS rank
      FROM sim
      QUALIFY rank <= 5
      ORDER BY q_id, rank""")),

    // IVF ANN under the oracle gate (round 11 — the last spec-only
    // family, and the engine's own recommended ANN path: adaptive
    // mass-probing dominates LSH at equal scan fraction,
    // ann_recall artifacts). Every stage is deterministically
    // replayable in DuckDB:
    //   seeds    — the nCells corpus rows with the lowest
    //              portableHash60(vec_id) (md5 mirror);
    //   Lloyd ×2 — assignment argmax on 6-dp-ROUNDED cosines
    //              (cent_id tie-break), cell means as EXACT integer
    //              micro-unit sums (round(x·1e7) summed as BIGINT, one
    //              terminal division — bit-identical doubles on both
    //              engines regardless of summation order);
    //   probing  — per-query centroid ranking annotated with cell
    //              masses; minimal prefix covering 25% of corpus mass;
    //   ranking  — 6-dp-rounded cosine, c_id tie-break (rankTopK).
    QueryDef("q116_ivf_topk",
      (s, d) => {
        val e = embeddings(s, d)
        graft.ops.Similarity.ivfTopKAdaptive(e,
            e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, nCells = 8, coverage = 0.25, minProbe = 1,
            lloydRounds = 2)
          .transform(QueryDef.sorted1(_, col("q_id"), col("rank")))
      },
      Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      em AS (
        SELECT vec_id, v,
          list_transform(v, x -> CAST(round(x * 10000000.0) AS BIGINT))
            AS mv
        FROM e),
      seed AS (
        SELECT vec_id AS cent_id, v AS cv FROM e
        ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
          ::BIGINT, vec_id
        LIMIT 8),
      a1 AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, seed c) WHERE rn = 1),
      m1 AS (
        SELECT a1.cell AS cent_id, t.i AS pos,
          CAST(SUM(em.mv[t.i + 1]) AS BIGINT) AS sm, COUNT(*) AS cnt
        FROM a1 JOIN em USING (vec_id), range(0, 64) t(i)
        GROUP BY 1, 2),
      c1 AS (
        SELECT s.cent_id, COALESCE(m.cv, s.cv) AS cv
        FROM seed s LEFT JOIN (
          SELECT cent_id, list(CAST(sm AS DOUBLE) /
            (CAST(cnt AS DOUBLE) * 10000000.0) ORDER BY pos) AS cv
          FROM m1 GROUP BY cent_id) m USING (cent_id)),
      a2 AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, c1 c) WHERE rn = 1),
      m2 AS (
        SELECT a2.cell AS cent_id, t.i AS pos,
          CAST(SUM(em.mv[t.i + 1]) AS BIGINT) AS sm, COUNT(*) AS cnt
        FROM a2 JOIN em USING (vec_id), range(0, 64) t(i)
        GROUP BY 1, 2),
      c2 AS (
        SELECT s.cent_id, COALESCE(m.cv, s.cv) AS cv
        FROM c1 s LEFT JOIN (
          SELECT cent_id, list(CAST(sm AS DOUBLE) /
            (CAST(cnt AS DOUBLE) * 10000000.0) ORDER BY pos) AS cv
          FROM m2 GROUP BY cent_id) m USING (cent_id)),
      af AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, c2 c) WHERE rn = 1),
      mass AS (SELECT cell, COUNT(*) AS mass FROM af GROUP BY cell),
      tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM mass),
      qs AS (
        SELECT q.vec_id AS q_id, c.cent_id AS cell,
          round(list_cosine_similarity(q.v, c.cv), 6) AS csim
        FROM e q, c2 c WHERE q.vec_id < 8),
      qp AS (
        SELECT q_id, cell,
          row_number() OVER (PARTITION BY q_id
            ORDER BY csim DESC, cell) AS rn,
          COALESCE(SUM(COALESCE(mass.mass, 0)) OVER (PARTITION BY q_id
            ORDER BY csim DESC, cell
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS mbefore
        FROM qs LEFT JOIN mass USING (cell)),
      probe AS (
        SELECT q_id, cell FROM qp, tot
        WHERE rn <= 1 OR mbefore < total * 0.25),
      cand AS (
        SELECT p.q_id, a.vec_id AS c_id,
          round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM probe p
        JOIN af a ON a.cell = p.cell
        JOIN e c ON c.vec_id = a.vec_id
        JOIN e q ON q.vec_id = p.q_id
        WHERE a.vec_id <> p.q_id)
      SELECT q_id, c_id, sim,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          AS rank
      FROM cand
      QUALIFY rank <= 5
      ORDER BY q_id, rank""")),

    // Shard-scale LSH ANN (round 11): the QUERY side is the whole
    // corpus — the self-k-NN/dedup shape where driver-broadcasting the
    // "queries" is exactly wrong. queryBroadcast=Some(false) pins the
    // shuffle-join plan (no BroadcastExchange at any scale — the spec
    // asserts the same via the stats gate), so the bucket equi-join
    // shuffles both slim (id, vec, bucket) streams by bucket.
    // GateKnobs.embSampleMod (q74's knob, interpolated into BOTH
    // sides) bounds the in-bucket candidate quadratic at the gate
    // scales; default 1 = all rows.
    // saltBuckets=0 (round 13, VERDICT r12 #7): the hot-bucket salt
    // lever engages from a measured pair-work statistic — on this
    // corpus the buckets are near-uniform (share ≈ 1/256, gate 0.5) so
    // the declared plan stays unsalted; a near-dup-heavy shard crosses
    // the gate and splits its hot reducer 8 ways (lsh_salt_r12.txt:
    // 4.4×). Results are bit-identical either way (OpsSpec parity).
    QueryDef("q117_lsh_ann_shard",
      (s, d) => {
        val e = embeddings(s, d)
          .filter(pmod(col("vec_id"), lit(GateKnobs.embSampleMod))
            === 0)
        graft.ops.Similarity.lshTopK(e, e, "vec_id", "embedding",
            k = 3, planes = 8, dims = 64, saltBuckets = 0,
            queryBroadcast = Some(false))
          .transform(QueryDef.sortedPMat(_, col("q_id"), col("rank")))
      },
      Some(s"""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id % ${GateKnobs.embSampleMod} = 0),
      dots AS (
        SELECT e.vec_id, t.p,
          list_sum(list_transform(range(1, len(e.v) + 1),
            i -> e.v[i] * ((('0x' || substr(md5('plane' || t.p || ':'
              || (i - 1)), 1, 15))::BIGINT
              / 576460752303423488.0) - 1.0))) AS dot
        FROM e, range(0, 8) t(p)),
      buck AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
            AS bucket
        FROM dots GROUP BY vec_id),
      be AS (SELECT e.vec_id, e.v, buck.bucket
        FROM e JOIN buck USING (vec_id)),
      sim AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM be c JOIN be q
          ON c.bucket = q.bucket AND c.vec_id <> q.vec_id)
      SELECT q_id, c_id, sim,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          AS rank
      FROM sim
      QUALIFY rank <= 3
      ORDER BY q_id, rank""")),

    // Multi-probe LSH (round 11; second ring + rounded margins round
    // 12): q114's recall lever — each query probes its primary bucket
    // plus the buckets reached by its 3 cheapest perturbations, where
    // a perturbation is a single-bit OR two-bit flip scored by the SUM
    // of the flipped planes' 6-dp-ROUNDED margins (the Lv et al.
    // sequence truncated at two flips; rounding is ADVICE r11 — probe
    // sets must not rest on last-bit FP agreement). Ties break on
    // (p1, p2) with p2 = -1 for singles. The oracle replays the same
    // scored perturbation table from the same md5-derived hyperplanes
    // and ranks it with a window, so probe SETS — not just buckets —
    // are verified cross-engine.
    QueryDef("q118_lsh_multiprobe",
      (s, d) => {
        val e = embeddings(s, d)
        graft.ops.Similarity.lshTopKMultiProbe(e,
            e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, planes = 8, dims = 64, probes = 4,
            queryBroadcast = Some(true))
          .transform(QueryDef.sorted1(_, col("q_id"), col("rank")))
      },
      Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      dots AS (
        SELECT e.vec_id, t.p,
          list_sum(list_transform(range(1, len(e.v) + 1),
            i -> e.v[i] * ((('0x' || substr(md5('plane' || t.p || ':'
              || (i - 1)), 1, 15))::BIGINT
              / 576460752303423488.0) - 1.0))) AS dot
        FROM e, range(0, 8) t(p)),
      buck AS (
        SELECT vec_id,
          CAST(SUM(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END) AS BIGINT)
            AS bucket
        FROM dots GROUP BY vec_id),
      be AS (SELECT e.vec_id, e.v, buck.bucket
        FROM e JOIN buck USING (vec_id)),
      marg AS (
        SELECT vec_id, p, round(abs(dot), 6) AS m
        FROM dots WHERE vec_id < 8),
      sets AS (
        SELECT vec_id AS q_id, m, p AS p1, -1 AS p2,
          CAST(1 << p AS BIGINT) AS mask
        FROM marg
        UNION ALL
        SELECT a.vec_id, a.m + b.m, a.p, b.p,
          CAST((1 << a.p) | (1 << b.p) AS BIGINT)
        FROM marg a JOIN marg b
          ON a.vec_id = b.vec_id AND a.p < b.p),
      qrank AS (
        SELECT q_id, mask,
          row_number() OVER (PARTITION BY q_id
            ORDER BY m, p1, p2) AS mr
        FROM sets),
      probes AS (
        SELECT vec_id AS q_id, bucket FROM buck WHERE vec_id < 8
        UNION ALL
        SELECT r.q_id, xor(b.bucket, r.mask) AS bucket
        FROM qrank r JOIN buck b ON b.vec_id = r.q_id
        WHERE r.mr <= 3),
      sim AS (
        SELECT p.q_id, c.vec_id AS c_id,
          round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM probes p
        JOIN be c ON c.bucket = p.bucket
        JOIN e q ON q.vec_id = p.q_id
        WHERE c.vec_id <> p.q_id)
      SELECT q_id, c_id, sim,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          AS rank
      FROM sim
      QUALIFY rank <= 5
      ORDER BY q_id, rank""")),

    // Recall-aware ANN selector (round 12 — VERDICT r11 #3): annTopK
    // measures the corpus's cell-mass concentration from the IVF
    // assignment and picks IVF adaptive mass-probing (clustered) or the
    // int8-quantized full scan (structureless). The DECISION itself is
    // oracle-replayed: the DuckDB mirror rebuilds the same assignment
    // (q116's seed → Lloyd×2 → exact micro-unit means), computes the
    // same masses, evaluates the same EXACT-INTEGER threshold
    // (10·nCells·Σm² ≥ 15·T², all BIGINT — threshold 1.5 measured, see
    // Similarity.annSelect), and emits whichever branch the statistic
    // selects — so engine and oracle cannot disagree on the path, let
    // alone the rows. On the isotropic testdata embeddings the skew is
    // ~1.01 ⇒ both take the int8 branch; the clustered⇒IVF side is
    // spec-asserted (ExtensionOpsSpec) on a corpus with real modes.
    QueryDef("q119_ann_selector",
      (s, d) => {
        val e = embeddings(s, d)
        graft.ops.Similarity.annTopK(e, e.filter(col("vec_id") < 8),
            "vec_id", "embedding", k = 5, nCells = 8,
            coverage = 0.25, minProbe = 1, lloydRounds = 2,
            skewThreshold = 1.5)
          .select(col("q_id"), col("c_id"), col("sim"), col("rank"))
          .transform(QueryDef.sorted1(_, col("q_id"), col("rank")))
      },
      Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      em AS (
        SELECT vec_id, v,
          list_transform(v, x -> CAST(round(x * 10000000.0) AS BIGINT))
            AS mv
        FROM e),
      seed AS (
        SELECT vec_id AS cent_id, v AS cv FROM e
        ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
          ::BIGINT, vec_id
        LIMIT 8),
      a1 AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, seed c) WHERE rn = 1),
      m1 AS (
        SELECT a1.cell AS cent_id, t.i AS pos,
          CAST(SUM(em.mv[t.i + 1]) AS BIGINT) AS sm, COUNT(*) AS cnt
        FROM a1 JOIN em USING (vec_id), range(0, 64) t(i)
        GROUP BY 1, 2),
      c1 AS (
        SELECT s.cent_id, COALESCE(m.cv, s.cv) AS cv
        FROM seed s LEFT JOIN (
          SELECT cent_id, list(CAST(sm AS DOUBLE) /
            (CAST(cnt AS DOUBLE) * 10000000.0) ORDER BY pos) AS cv
          FROM m1 GROUP BY cent_id) m USING (cent_id)),
      a2 AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, c1 c) WHERE rn = 1),
      m2 AS (
        SELECT a2.cell AS cent_id, t.i AS pos,
          CAST(SUM(em.mv[t.i + 1]) AS BIGINT) AS sm, COUNT(*) AS cnt
        FROM a2 JOIN em USING (vec_id), range(0, 64) t(i)
        GROUP BY 1, 2),
      c2 AS (
        SELECT s.cent_id, COALESCE(m.cv, s.cv) AS cv
        FROM c1 s LEFT JOIN (
          SELECT cent_id, list(CAST(sm AS DOUBLE) /
            (CAST(cnt AS DOUBLE) * 10000000.0) ORDER BY pos) AS cv
          FROM m2 GROUP BY cent_id) m USING (cent_id)),
      af AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, c2 c) WHERE rn = 1),
      mass AS (SELECT cell, COUNT(*) AS mass FROM af GROUP BY cell),
      tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM mass),
      ch AS (
        SELECT 10 * 8 * CAST(SUM(mass * mass) AS BIGINT)
          >= 15 * CAST(SUM(mass) AS BIGINT) * CAST(SUM(mass) AS BIGINT)
          AS use_ivf
        FROM mass),
      qs AS (
        SELECT q.vec_id AS q_id, c.cent_id AS cell,
          round(list_cosine_similarity(q.v, c.cv), 6) AS csim
        FROM e q, c2 c WHERE q.vec_id < 8),
      qp AS (
        SELECT q_id, cell,
          row_number() OVER (PARTITION BY q_id
            ORDER BY csim DESC, cell) AS rn,
          COALESCE(SUM(COALESCE(mass.mass, 0)) OVER (PARTITION BY q_id
            ORDER BY csim DESC, cell
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS mbefore
        FROM qs LEFT JOIN mass USING (cell)),
      probe AS (
        SELECT q_id, cell FROM qp, tot
        WHERE rn <= 1 OR mbefore < total * 0.25),
      icand AS (
        SELECT p.q_id, a.vec_id AS c_id,
          round(list_cosine_similarity(q.v, c.v), 6) AS sim
        FROM probe p
        JOIN af a ON a.cell = p.cell
        JOIN e c ON c.vec_id = a.vec_id
        JOIN e q ON q.vec_id = p.q_id
        WHERE a.vec_id <> p.q_id),
      ivf AS (
        SELECT q_id, c_id, sim,
          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
            AS rank
        FROM icand),
      qz0 AS (
        SELECT vec_id, v,
          greatest(list_max(list_transform(v, x -> abs(x))) / 127.0,
            1e-12) AS q_scale
        FROM e),
      qz AS (
        SELECT vec_id,
          list_transform(v, x -> round(x / q_scale)) AS qv
        FROM qz0),
      bcand AS (
        SELECT q.vec_id AS q_id, c.vec_id AS c_id,
          round(list_cosine_similarity(q.qv, c.qv), 6) AS sim
        FROM qz c JOIN qz q ON c.vec_id <> q.vec_id
        WHERE q.vec_id < 8),
      bf AS (
        SELECT q_id, c_id, sim,
          row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
            AS rank
        FROM bcand)
      SELECT q_id, c_id, sim, rank FROM ivf
      WHERE rank <= 5 AND (SELECT use_ivf FROM ch)
      UNION ALL
      SELECT q_id, c_id, sim, rank FROM bf
      WHERE rank <= 5 AND NOT (SELECT use_ivf FROM ch)
      ORDER BY q_id, rank""")),

    // Quantized-scan IVF ANN (round 12): the 100 TB configuration —
    // sublinear mass-covering probing (q116) with the candidate scan on
    // int8 vectors (1 byte/dim, q59's quantization; scales cancel in
    // the cosine and every integer sum is exact, so the quantized sims
    // are engine-independent). Probe SELECTION runs on the float
    // vectors, so the probed-cell prefix is IDENTICAL to q116's — the
    // oracle replays q116's full seed → Lloyd×2 → mass-coverage-probe
    // chain and only the final candidate similarity switches to the
    // quantized form.
    QueryDef("q120_ivf_topk_quantized",
      (s, d) => {
        val e = embeddings(s, d)
        graft.ops.Similarity.ivfTopKAdaptive(e,
            e.filter(col("vec_id") < 8), "vec_id", "embedding",
            k = 5, nCells = 8, coverage = 0.25, minProbe = 1,
            lloydRounds = 2, quantizedScan = true)
          .transform(QueryDef.sorted1(_, col("q_id"), col("rank")))
      },
      Some("""WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      em AS (
        SELECT vec_id, v,
          list_transform(v, x -> CAST(round(x * 10000000.0) AS BIGINT))
            AS mv
        FROM e),
      seed AS (
        SELECT vec_id AS cent_id, v AS cv FROM e
        ORDER BY ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))
          ::BIGINT, vec_id
        LIMIT 8),
      a1 AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, seed c) WHERE rn = 1),
      m1 AS (
        SELECT a1.cell AS cent_id, t.i AS pos,
          CAST(SUM(em.mv[t.i + 1]) AS BIGINT) AS sm, COUNT(*) AS cnt
        FROM a1 JOIN em USING (vec_id), range(0, 64) t(i)
        GROUP BY 1, 2),
      c1 AS (
        SELECT s.cent_id, COALESCE(m.cv, s.cv) AS cv
        FROM seed s LEFT JOIN (
          SELECT cent_id, list(CAST(sm AS DOUBLE) /
            (CAST(cnt AS DOUBLE) * 10000000.0) ORDER BY pos) AS cv
          FROM m1 GROUP BY cent_id) m USING (cent_id)),
      a2 AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, c1 c) WHERE rn = 1),
      m2 AS (
        SELECT a2.cell AS cent_id, t.i AS pos,
          CAST(SUM(em.mv[t.i + 1]) AS BIGINT) AS sm, COUNT(*) AS cnt
        FROM a2 JOIN em USING (vec_id), range(0, 64) t(i)
        GROUP BY 1, 2),
      c2 AS (
        SELECT s.cent_id, COALESCE(m.cv, s.cv) AS cv
        FROM c1 s LEFT JOIN (
          SELECT cent_id, list(CAST(sm AS DOUBLE) /
            (CAST(cnt AS DOUBLE) * 10000000.0) ORDER BY pos) AS cv
          FROM m2 GROUP BY cent_id) m USING (cent_id)),
      af AS (
        SELECT vec_id, cent_id AS cell FROM (
          SELECT em.vec_id, c.cent_id,
            row_number() OVER (PARTITION BY em.vec_id
              ORDER BY round(list_cosine_similarity(em.v, c.cv), 6)
                DESC, c.cent_id) AS rn
          FROM em, c2 c) WHERE rn = 1),
      mass AS (SELECT cell, COUNT(*) AS mass FROM af GROUP BY cell),
      tot AS (SELECT CAST(SUM(mass) AS BIGINT) AS total FROM mass),
      qs AS (
        SELECT q.vec_id AS q_id, c.cent_id AS cell,
          round(list_cosine_similarity(q.v, c.cv), 6) AS csim
        FROM e q, c2 c WHERE q.vec_id < 8),
      qp AS (
        SELECT q_id, cell,
          row_number() OVER (PARTITION BY q_id
            ORDER BY csim DESC, cell) AS rn,
          COALESCE(SUM(COALESCE(mass.mass, 0)) OVER (PARTITION BY q_id
            ORDER BY csim DESC, cell
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS mbefore
        FROM qs LEFT JOIN mass USING (cell)),
      probe AS (
        SELECT q_id, cell FROM qp, tot
        WHERE rn <= 1 OR mbefore < total * 0.25),
      qz AS (
        SELECT vec_id,
          list_transform(v, x -> round(x /
            greatest(list_max(list_transform(v, y -> abs(y))) / 127.0,
              1e-12))) AS qv
        FROM e),
      cand AS (
        SELECT p.q_id, a.vec_id AS c_id,
          round(list_cosine_similarity(q.qv, c.qv), 6) AS sim
        FROM probe p
        JOIN af a ON a.cell = p.cell
        JOIN qz c ON c.vec_id = a.vec_id
        JOIN qz q ON q.vec_id = p.q_id
        WHERE a.vec_id <> p.q_id)
      SELECT q_id, c_id, sim,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          AS rank
      FROM cand
      QUALIFY rank <= 5
      ORDER BY q_id, rank""")),

    // Brute-force cosine top-k: 8 query vectors (broadcast) against the
    // full corpus; ranked per query by similarity. Similarity is rounded
    // to 6 dp on BOTH sides before ranking so FP summation-order noise
    // between engines cannot flip ranks. Covers window functions
    // (row_number) as well.
    QueryDef("q25_cosine_topk",
      (s, d) => {
        // cast to double and compute norms ONCE per vector before the
        // fan-out join — Fns.cosine inline would re-cast both arrays and
        // recompute both norms per (query, candidate) pair
        def dd(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
        val e = embeddings(s, d)
          .select(col("vec_id"), dd(col("embedding")).as("ed"),
            sqrt(Fns.dotProduct(dd(col("embedding")), dd(col("embedding"))))
              .as("norm"))
        val q = e.filter(col("vec_id") < 8)
          .select(col("vec_id").as("q_id"), col("ed").as("qd"),
            col("norm").as("qnorm"))
        val sim = e.join(broadcast(q), col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id").as("c_id"),
            round(Fns.dotProduct(col("qd"), col("ed"))
              / (col("qnorm") * col("norm")), 6).as("sim"))
        sim.withColumn("rank", row_number().over(
            Window.partitionBy("q_id").orderBy(desc("sim"), col("c_id"))))
          .filter(col("rank") <= 5)
          .transform(QueryDef.sorted1(_, col("q_id"), col("rank")))
      },
      Some("""WITH q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id < 8),
      sim AS (
        SELECT q_id, e.vec_id AS c_id,
          round(list_cosine_similarity(qv, e.embedding::DOUBLE[]), 6)
            AS sim
        FROM embeddings e, q WHERE e.vec_id <> q.q_id)
      SELECT q_id, c_id, sim,
        row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, c_id)
          AS rank
      FROM sim
      QUALIFY rank <= 5
      ORDER BY q_id, rank""")),

    // Embedding near-dup: pairwise cosine within `label` blocks (the
    // blocking key bounds the n² — the same role an IVF/LSH bucket plays
    // at 100 TB), threshold 0.35.
    QueryDef("q26_embedding_neardup",
      (s, d) => {
        // Exact-duplicate collapse (the Dedup.embeddingNearDup /
        // FuzzyJoin discipline): the rounded cosine runs once per
        // DISTINCT (label, vector) pair — with the norm precomputed
        // once per distinct vector — and id pairs expand through each
        // vector's multiplicity. Float dot/multiply are commutative,
        // so the per-distinct-pair value is bit-identical to the old
        // per-id-pair one regardless of which side held the lower id.
        def dd(c: org.apache.spark.sql.Column) = transform(c, _.cast("double"))
        val e = embeddings(s, d)
        val rkE = xxhash64(col("label"), col("embedding"))
        val rk2E = hash(col("embedding"))
        val members = e.select(rkE.as("rk"), rk2E.as("rk2"),
          col("vec_id"))
        val dist = e.select(col("label"), col("embedding")).distinct()
          .select(col("label"), rkE.as("rk"), rk2E.as("rk2"),
            dd(col("embedding")).as("ed"),
            sqrt(Fns.dotProduct(dd(col("embedding")), dd(col("embedding"))))
              .as("norm"))
        val repPairs = dist.as("x").join(broadcast(dist.as("y")),
            col("x.label") === col("y.label") &&
              (col("x.rk") < col("y.rk") || (col("x.rk") === col("y.rk")
                && col("x.rk2") < col("y.rk2"))))
          .select(col("x.rk").as("rka"), col("x.rk2").as("rka2"),
            col("y.rk").as("rkb"), col("y.rk2").as("rkb2"),
            round(Fns.dotProduct(col("x.ed"), col("y.ed"))
              / (col("x.norm") * col("y.norm")), 6).as("sim"))
          .transform(QueryDef.filterAbove(_, col("sim") >= 0.35))
        val cross = repPairs
          .join(members.select(col("rk").as("rka"), col("rk2").as("rka2"),
            col("vec_id").as("ida")), Seq("rka", "rka2"))
          .join(members.select(col("rk").as("rkb"), col("rk2").as("rkb2"),
            col("vec_id").as("idb")), Seq("rkb", "rkb2"))
          .select(least(col("ida"), col("idb")).as("a_id"),
            greatest(col("ida"), col("idb")).as("b_id"), col("sim"))
        val self = dist
          .select(col("rk"), col("rk2"),
            round(Fns.dotProduct(col("ed"), col("ed"))
              / (col("norm") * col("norm")), 6).as("sim"))
          .transform(QueryDef.filterAbove(_, col("sim") >= 0.35))
        val intra = members.as("x").join(members.as("y"),
            col("x.rk") === col("y.rk") && col("x.rk2") === col("y.rk2")
              && col("x.vec_id") < col("y.vec_id"))
          .select(col("x.vec_id").as("a_id"), col("y.vec_id").as("b_id"),
            col("x.rk").as("rk"), col("x.rk2").as("rk2"))
          .join(self, Seq("rk", "rk2"))
          .select(col("a_id"), col("b_id"), col("sim"))
        cross.unionByName(intra)
          .transform(QueryDef.sorted1(_, col("a_id"), col("b_id")))
      },
      Some("""SELECT x.vec_id AS a_id, y.vec_id AS b_id,
        round(list_cosine_similarity(x.embedding::DOUBLE[],
          y.embedding::DOUBLE[]), 6) AS sim
      FROM embeddings x JOIN embeddings y
        ON x.label = y.label AND x.vec_id < y.vec_id
      WHERE round(list_cosine_similarity(x.embedding::DOUBLE[],
        y.embedding::DOUBLE[]), 6) >= 0.35
      ORDER BY a_id, b_id""")),

    // Tumbling event-time window aggregation (batch analog of the
    // Structured Streaming path in graft.streaming).
    QueryDef("q27_window_tumbling",
      (s, d) => events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), Fns.sumDec(col("value")).as("total"))
        .orderBy("win_start", "event_type"),
      Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP))
          AS win_start, event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // Sliding window (1 h window, 30 min slide) via Spark's native
    // window(); the oracle expands each event into its two windows with
    // exact integer microsecond arithmetic.
    QueryDef("q28_window_sliding",
      (s, d) => events(s, d)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), Fns.sumDec(col("value")).as("total"))
        .select(col("window.start").as("win_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy("win_start", "event_type"),
      Some("""WITH x AS (
        SELECT epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_type, value
        FROM events),
      w AS (
        SELECT make_timestamp((us // 1800000000) * 1800000000)
          AS win_start, event_type, value FROM x
        UNION ALL
        SELECT make_timestamp(((us // 1800000000) - 1) * 1800000000),
          event_type, value FROM x)
      SELECT win_start, event_type, COUNT(*) AS n,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""")),

    // Sessionization: 30-min-gap sessions per user via lag + running sum
    // (gaps-and-islands). Batch mirror of
    // graft.streaming sessionization; also covers lag/over.
    QueryDef("q29_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val withGap = events(s, d)
          .withColumn("us", expr("unix_micros(cast(ts as timestamp))"))
          .withColumn("new_sess",
            when(col("us") - lag("us", 1).over(w) > 1800000000L, 1)
              .otherwise(0))
          .withColumn("sess_id", sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        withGap.groupBy("user_id", "sess_id")
          .agg(count(lit(1)).as("n_events"),
            min("ts").as("sess_start"), max("ts").as("sess_end"))
          .orderBy("user_id", "sess_id")
      },
      Some("""WITH x AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS t FROM events),
      g AS (
        SELECT user_id, event_id, t,
          CASE WHEN epoch_us(t) -
            lag(epoch_us(t)) OVER (PARTITION BY user_id
              ORDER BY t, event_id) > 1800000000 THEN 1 ELSE 0 END
            AS new_sess
        FROM x),
      sid AS (
        SELECT user_id, t,
          CAST(SUM(new_sess) OVER (PARTITION BY user_id
            ORDER BY t, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
            AS sess_id
        FROM g)
      SELECT user_id, sess_id, COUNT(*) AS n_events,
        min(t) AS sess_start, max(t) AS sess_end
      FROM sid GROUP BY user_id, sess_id ORDER BY user_id, sess_id""")),

    // Set operations (UNION / INTERSECT / EXCEPT with distinct
    // semantics) — not in the reference surface (SURVEY §2.7) but part
    // of a complete engine.
    QueryDef("q30_set_ops",
      (s, d) => {
        val cn = customer(s, d).select(col("c_nationkey").as("nk")).distinct()
        val sn = supplier(s, d).select(col("s_nationkey").as("nk")).distinct()
        cn.except(sn).withColumn("src", lit("customer_only"))
          .unionByName(sn.except(cn).withColumn("src", lit("supplier_only")))
          .unionByName(cn.intersect(sn).withColumn("src", lit("both")))
          .orderBy("nk", "src")
      },
      Some("""SELECT nk, 'customer_only' AS src FROM
        (SELECT c_nationkey AS nk FROM customer
         EXCEPT SELECT s_nationkey FROM supplier)
      UNION ALL
      SELECT nk, 'supplier_only' AS src FROM
        (SELECT s_nationkey AS nk FROM supplier
         EXCEPT SELECT c_nationkey FROM customer)
      UNION ALL
      SELECT nk, 'both' AS src FROM
        (SELECT c_nationkey AS nk FROM customer
         INTERSECT SELECT s_nationkey FROM supplier)
      ORDER BY nk, src""")),

    // Multimodal plumbing: treat content as an opaque binary column with
    // typed metadata. The "decode" is a deterministic fake (see
    // graft.ops.Multimodal for the stubbed real path) — the Spark-side
    // schema/partitioning/batch shape is what's real and tested here.
    QueryDef("q31_multimodal_meta",
      (s, d) => {
        val bin = encode(col("text"), "UTF-8")
        val h = Fns.portableHash60(col("text"))
        documents(s, d).select(
          col("doc_id"),
          octet_length(bin).as("n_bytes"),
          substring(hex(bin), 1, 16).as("header_hex"),
          (h % 640 + 1).cast("int").as("fake_width"),
          (h % 480 + 1).cast("int").as("fake_height"),
          (h % 10 + 1).cast("int").as("fake_frames"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
        octet_length(encode(text)) AS n_bytes,
        substr(hex(encode(text)), 1, 16) AS header_hex,
        CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % 640 + 1
          AS INTEGER) AS fake_width,
        CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % 480 + 1
          AS INTEGER) AS fake_height,
        CAST(('0x' || substr(md5(text), 1, 15))::BIGINT % 10 + 1
          AS INTEGER) AS fake_frames
      FROM documents ORDER BY doc_id""")),

    // §2.9 STREAMING path, oracle-checked end-to-end: synthesize arena
    // cell exports from lineitem (1/7 of orders), run them through the
    // REAL streaming ingest (readStream → AvailableNow → foreachBatch →
    // single-shuffle clustered lakehouse append, checkpointed), then
    // report per-problem stats from the ingested partitioned table.
    // The DuckDB mirror reproduces the expected stats from lineitem with
    // pure SQL (the regroup's 8 grouping keys collapse to 5 synthesized
    // dimensions), so the whole stream → lakehouse → query loop is
    // hash-verified, not just spec-smoked.
    QueryDef("q58_stream_ingest_stats",
      (s, d) => {
        // the side-effecting write→stream→append gate is a set-up:
        // timed passes re-run only the stats query over its table
        val lake = QueryDef.setupOnce(s, d, "q58")(runQ58StreamGate(s, d))
        graft.queries.CanonicalQueries.perProblemStats(lake.observations)
      },
      Some("""WITH g AS (
        SELECT l_orderkey % 8 AS run, l_orderkey % 20 AS prob,
          l_suppkey % 50 AS sys, l_partkey % 100 AS sheet,
          l_linenumber AS y, MAX(CAST(l_quantity AS DOUBLE)) AS et
        FROM lineitem WHERE l_orderkey % 7 = 0
        GROUP BY 1, 2, 3, 4, 5)
      SELECT 'stream1' AS data_set_id,
        'p' || CAST(prob AS VARCHAR) AS problem_id,
        COUNT(DISTINCT sys) AS n_implementations,
        COUNT(DISTINCT sheet) AS n_tests,
        COUNT(*) AS n_observations,
        MAX(et) AS max_execution_time_ms
      FROM g GROUP BY 1, 2
      ORDER BY data_set_id, problem_id""")),

    // Int8 embedding quantization (ops/Similarity.quantizeInt8) — the
    // 4-bytes/dim → 1-byte/dim memory-bandwidth lever for a 100 TB
    // embedding table; cosine is scale-invariant so similarity search
    // runs on the quantized vectors directly (quantizedCosine, spec).
    // Oracle checks the quantized vectors exactly via integer sums
    // (q_sum, q_l2 are exact int arithmetic after the round).
    QueryDef("q59_embedding_quantize",
      (s, d) => graft.ops.Similarity
        .quantizeInt8(embeddings(s, d), "embedding")
        .select(col("vec_id"), col("q_scale"),
          aggregate(col("q_vec"), lit(0L), (a, x) => a + x).as("q_sum"),
          aggregate(col("q_vec"), lit(0L), (a, x) => a + x * x)
            .as("q_l2"))
        .orderBy("vec_id"),
      Some("""WITH s AS (
        SELECT vec_id, embedding::DOUBLE[] AS e,
          greatest(list_max(list_transform(embedding::DOUBLE[],
            x -> abs(x))) / 127.0, 1e-12) AS q_scale
        FROM embeddings),
      q AS (
        SELECT vec_id, q_scale,
          list_transform(e, x -> CAST(round(x / q_scale) AS INTEGER))
            AS qv
        FROM s)
      SELECT vec_id, q_scale,
        CAST(list_sum(qv) AS BIGINT) AS q_sum,
        CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS q_l2
      FROM q ORDER BY vec_id""")),

    // REAL decoders under the oracle gate: synthesize deterministic PNG
    // and WAV bytes column-side (Multimodal.SyntheticMedia), decode them
    // with the REAL JDK codecs (ImageIO pixel pass / javax.sound PCM —
    // NOT the header parser or the stub), and emit integer outputs:
    // decoded dimensions plus the per-bin histogram counts recovered
    // exactly from the normalized feature vector. The DuckDB mirror
    // replays the expected values from the same closed-form generation
    // in pure integer arithmetic (the q59 pattern — PNG is lossless,
    // gray-pixel luma is exactly g, PCM is exact): a codec-free engine
    // hash-verifies a codec-full decode.
    QueryDef("q64_media_decode",
      (s, d) => {
        import s.implicits._
        val ids = nation(s, d)
          .select(col("n_nationkey").cast("long").as("id")).as[Long]
        val items = ids
          .mapPartitions(_.map(graft.ops.Multimodal.SyntheticMedia.item))
        // video leg (REAL RIFF/AVI + per-frame ImageIO decode): ids
        // offset by 100 so the image/audio rows are untouched
        val vids = ids.filter(_ < 8).mapPartitions(_.map(i =>
          graft.ops.Multimodal.SyntheticMedia.aviItem(i)
            .copy(media_id = 100 + i)))
        graft.ops.Multimodal
          .decodeFeatures(s, items.union(vids).toDF(),
            graft.ops.Multimodal.JdkDecoder)
          .toDF()
          .select(col("media_id"), col("media_type"),
            col("width"), col("height"), col("n_frames"),
            // feature[b] = count_b / n with n ≤ 3600 ⇒ float error far
            // below 0.5, so round() recovers the exact integer count
            concat_ws(",", transform(col("feature"), f =>
              round(f.cast("double") *
                when(col("media_type") === "image",
                  col("width") * col("height"))
                  .when(col("media_type") === "video",
                    col("n_frames") * col("width") * col("height"))
                  .otherwise(col("n_frames"))).cast("long"))).as("hist"))
          .orderBy("media_id")
      },
      Some("""WITH ids AS (
        SELECT CAST(n_nationkey AS BIGINT) AS i FROM nation),
      img AS (
        SELECT i, 8 + (i % 5) * 4 AS w, 8 + (i % 3) * 4 AS h
        FROM ids WHERE i % 2 = 0),
      ipix AS (
        SELECT i, ((x * 7 + y * 13 + i * 31) % 256) // 16 AS bin
        FROM img, UNNEST(range(0, w)) tx(x), UNNEST(range(0, h)) ty(y)),
      ibins AS (SELECT i, list(bin) AS bins FROM ipix GROUP BY i),
      aud AS (
        SELECT i, 2000 + (i % 5) * 400 AS n FROM ids WHERE i % 2 = 1),
      apix AS (
        SELECT i, ((j * 1103 + i * 12345) % 65536) // 4096 AS bin
        FROM aud, UNNEST(range(0, n)) tj(j)),
      abins AS (SELECT i, list(bin) AS bins FROM apix GROUP BY i),
      vid AS (
        SELECT i, 8 + (i % 5) * 4 AS w, 8 + (i % 3) * 4 AS h,
          2 + (i % 2) AS nf
        FROM ids WHERE i < 8),
      vpix AS (
        SELECT i, ((x * 7 + y * 13 + i * 31 + j * 17) % 256) // 16 AS bin
        FROM vid, UNNEST(range(0, nf)) tj(j),
          UNNEST(range(0, w)) tx(x), UNNEST(range(0, h)) ty(y)),
      vbins AS (SELECT i, list(bin) AS bins FROM vpix GROUP BY i),
      allrows AS (
        SELECT img.i AS media_id, 'image' AS media_type,
          CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
          CAST(1 AS INTEGER) AS n_frames, b.bins
        FROM img JOIN ibins b ON img.i = b.i
        UNION ALL
        SELECT aud.i, 'audio', CAST(8000 AS INTEGER), CAST(1 AS INTEGER),
          CAST(n AS INTEGER), b.bins
        FROM aud JOIN abins b ON aud.i = b.i
        UNION ALL
        SELECT vid.i + 100, 'video', CAST(w AS INTEGER),
          CAST(h AS INTEGER), CAST(nf AS INTEGER), b.bins
        FROM vid JOIN vbins b ON vid.i = b.i)
      SELECT media_id, media_type, width, height, n_frames,
        array_to_string(list_transform(range(0, 16),
          b -> CAST(len(list_filter(bins, x -> x = b)) AS VARCHAR)), ',')
          AS hist
      FROM allrows ORDER BY media_id""")),

    // Gap-filled hourly resample: the time-series densification every
    // monitoring/feature pipeline needs — a (event_type × hour) grid
    // over the observed range (sequence + explode from a 1-row bounds
    // frame, no driver scalar), LEFT JOIN of the real buckets, zero
    // counts for gaps, and a carry-forward of the last non-null total
    // (last(ignoreNulls) window — frame-identical to DuckDB's
    // last_value IGNORE NULLS). No shuffle touches the raw events
    // beyond the bucket aggregation itself.
    QueryDef("q71_gapfill_resample",
      (s, d) => {
        val ev = events(s, d).select(
          date_trunc("hour", col("ts")).as("bucket"),
          col("event_type"), col("value"))
        // materialized ONCE (sortedPMat discipline): three consumers
        // below (hour bounds, the type list, the grid left join) would
        // otherwise each re-run the events scan + aggregation — measured
        // ~3x the query's true cost at sf0.1. The frame is tiny
        // (types x hours), so the eager checkpoint is cheap.
        val agg = ev.groupBy("event_type", "bucket")
          .agg(count(lit(1)).as("n"), Fns.sumDec(col("value")).as("total"))
          .localCheckpoint(true)
        val hours = agg.agg(min(col("bucket")).as("lo"),
            max(col("bucket")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"),
            expr("interval 1 hour"))).as("bucket"))
        val grid = agg.select("event_type").distinct().crossJoin(hours)
        grid.join(agg, Seq("event_type", "bucket"), "left")
          .select(col("event_type"), col("bucket"),
            coalesce(col("n"), lit(0L)).as("n"), col("total"),
            last(col("total"), ignoreNulls = true)
              .over(Window.partitionBy("event_type").orderBy("bucket"))
              .as("carry_total"))
          .orderBy("event_type", "bucket")
      },
      Some("""WITH ev AS (
        SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS b,
          event_type, value FROM events),
      agg AS (
        SELECT event_type, b, COUNT(*) AS n,
          CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
        FROM ev GROUP BY 1, 2),
      bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM agg),
      hours AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS b
        FROM bounds),
      grid AS (
        SELECT t.event_type, h.b
        FROM (SELECT DISTINCT event_type FROM agg) t, hours h)
      SELECT g.event_type, g.b AS bucket,
        COALESCE(a.n, 0) AS n, a.total,
        last_value(a.total IGNORE NULLS)
          OVER (PARTITION BY g.event_type ORDER BY g.b) AS carry_total
      FROM grid g LEFT JOIN agg a
        ON a.event_type = g.event_type AND a.b = g.b
      ORDER BY g.event_type, bucket"""))
  )
}
