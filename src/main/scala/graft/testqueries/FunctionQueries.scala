package graft.testqueries

import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Scalar-function surface breadth: string, math, and date/time families
  * beyond the reference's X1-X9 set (engine completeness). Only
  * functions with engine-exact semantics are included: sqrt is IEEE
  * correctly-rounded (safe); ln/exp/pow are not and are excluded rather
  * than rounded over a knife edge.
  */
object FunctionQueries {
  import Tables._

  val all: Seq[QueryDef] = Seq(

    QueryDef("q41_string_funcs",
      (s, d) => customer(s, d).select(
        col("c_custkey"),
        upper(col("c_name")).as("u"),
        lower(col("c_mktsegment")).as("l"),
        length(col("c_name")).as("len"),
        substring(col("c_name"), 3, 5).as("sub"),
        lpad(col("c_custkey").cast("string"), 8, "0").as("pad"),
        regexp_replace(col("c_name"), "[0-9]+", "#").as("repl"),
        reverse(col("c_mktsegment")).as("rev"),
        instr(col("c_name"), "1").as("pos"),
        levenshtein(col("c_mktsegment"), lit("BUILDING")).as("lev"),
        translate(col("c_mktsegment"), "AEIOU", "aeiou").as("tr"))
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey,
        upper(c_name) AS u, lower(c_mktsegment) AS l,
        length(c_name) AS len, substring(c_name, 3, 5) AS sub,
        lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS pad,
        regexp_replace(c_name, '[0-9]+', '#', 'g') AS repl,
        reverse(c_mktsegment) AS rev,
        instr(c_name, '1') AS pos,
        levenshtein(c_mktsegment, 'BUILDING') AS lev,
        translate(c_mktsegment, 'AEIOU', 'aeiou') AS tr
        FROM customer ORDER BY c_custkey""")),

    QueryDef("q42_math_funcs",
      (s, d) => supplier(s, d).select(
        col("s_suppkey"),
        abs(col("s_acctbal")).as("ab"),
        ceil(col("s_acctbal")).as("ce"),
        floor(col("s_acctbal")).as("fl"),
        round(col("s_acctbal"), 1).as("ro"),
        signum(col("s_acctbal")).cast("int").as("sg"),
        sqrt(abs(col("s_acctbal"))).as("sq"),
        greatest(col("s_acctbal"), lit(0.0)).as("gr"),
        least(col("s_acctbal"), lit(0.0)).as("le"),
        pmod(col("s_suppkey"), lit(7)).as("md"))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey,
        abs(s_acctbal) AS ab,
        CAST(ceil(s_acctbal) AS BIGINT) AS ce,
        CAST(floor(s_acctbal) AS BIGINT) AS fl,
        round(s_acctbal, 1) AS ro,
        CAST(sign(s_acctbal) AS INTEGER) AS sg,
        sqrt(abs(s_acctbal)) AS sq,
        greatest(s_acctbal, CAST(0.0 AS DOUBLE)) AS gr,
        least(s_acctbal, CAST(0.0 AS DOUBLE)) AS le,
        s_suppkey % 7 AS md
        FROM supplier ORDER BY s_suppkey""")),

    QueryDef("q43_datetime_funcs",
      (s, d) => orders(s, d).select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        hour(col("o_orderdate")).as("h"),
        date_trunc("day", col("o_orderdate")).as("day_start"),
        (col("o_orderdate") + expr("INTERVAL 5 DAYS")).as("plus5"),
        datediff(col("o_orderdate"),
          lit("2024-01-01").cast("date")).as("days_since"),
        quarter(col("o_orderdate")).as("q"),
        expr("unix_micros(cast(o_orderdate as timestamp))").as("us"))
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey,
        CAST(year(o_orderdate) AS INTEGER) AS y,
        CAST(month(o_orderdate) AS INTEGER) AS m,
        CAST(dayofmonth(o_orderdate) AS INTEGER) AS dom,
        CAST(hour(o_orderdate) AS INTEGER) AS h,
        date_trunc('day', o_orderdate) AS day_start,
        o_orderdate + INTERVAL 5 DAY AS plus5,
        CAST(datediff('day', DATE '2024-01-01', o_orderdate) AS INTEGER)
          AS days_since,
        CAST(quarter(o_orderdate) AS INTEGER) AS q,
        epoch_us(o_orderdate) AS us
        FROM orders ORDER BY o_orderkey""")),

    // CUBE grouping sets (all 4 combinations; rollup covered by q34).
    QueryDef("q44_cube",
      (s, d) => lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping(col("l_returnflag")).cast("int").as("g_rf"),
          grouping(col("l_linestatus")).cast("int").as("g_ls"),
          count(lit(1)).as("n"))
        .select(col("g_rf"), col("g_ls"),
          coalesce(col("l_returnflag"), lit("<all>")).as("rf"),
          coalesce(col("l_linestatus"), lit("<all>")).as("ls"), col("n"))
        .transform(QueryDef.sorted1(_, col("g_rf"), col("g_ls"),
          col("rf"), col("ls"))),
      Some("""SELECT CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls,
        COALESCE(l_returnflag, '<all>') AS rf,
        COALESCE(l_linestatus, '<all>') AS ls, COUNT(*) AS n
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY g_rf, g_ls, rf, ls""")),

    // Multiset semantics: EXCEPT ALL / INTERSECT ALL preserve
    // duplicate counts (DISTINCT variants covered by q30). Computed as
    // count arithmetic (ops/Multiset) — the built-in exceptAll/
    // intersectAll rewrite expands Generate(ReplicateRows) over ≤3
    // hash keys, re-materializing the corpus through ≤3 tasks just so
    // this query can count the rows back down (97.5 s at sf10 for 6
    // output rows; the count-arithmetic form is two parallel partial
    // aggs and a key-sized join). Same rows, same oracle.
    QueryDef("q45_set_ops_all",
      (s, d) => {
        val a = lineitem(s, d).select(col("l_returnflag").as("f"))
        val b = lineitem(s, d).filter(col("l_linestatus") === "O")
          .select(col("l_returnflag").as("f"))
        // one count pass for both ops: the unioned except/intersect
        // form plans the lineitem scans + count aggs twice
        graft.ops.Multiset.setOpCounts(a, b, Seq("f"))
          .orderBy("op", "f")
      },
      Some("""WITH a AS (SELECT l_returnflag AS f FROM lineitem),
        b AS (SELECT l_returnflag AS f FROM lineitem
              WHERE l_linestatus = 'O')
      SELECT f, COUNT(*) AS n, 'except_all' AS op
        FROM (SELECT f FROM a EXCEPT ALL SELECT f FROM b) GROUP BY f
      UNION ALL
      SELECT f, COUNT(*) AS n, 'intersect_all' AS op
        FROM (SELECT f FROM a INTERSECT ALL SELECT f FROM b) GROUP BY f
      ORDER BY op, f""")),

    // The spark.sql entry path (SURVEY EP1): same engine, SQL text in —
    // temp views over the parquet tables, a join + agg + order statement.
    QueryDef("q46_sql_surface",
      (s, d) => {
        lineitem(s, d).createOrReplaceTempView("v_lineitem")
        orders(s, d).createOrReplaceTempView("v_orders")
        s.sql("""SELECT o_orderpriority,
            COUNT(*) AS n,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
              AS revenue
          FROM v_lineitem JOIN v_orders ON l_orderkey = o_orderkey
          WHERE l_quantity > 10
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, COUNT(*) AS n,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
          AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_quantity > 10
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // Exact interpolated percentiles (Spark percentile == DuckDB
    // quantile_cont, both R-7; l_quantity is integral so the
    // interpolation arithmetic is FP-exact).
    QueryDef("q47_percentiles",
      (s, d) => lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("percentile(l_quantity, 0.25D)").as("p25"),
          expr("percentile(l_quantity, 0.5D)").as("p50"),
          expr("percentile(l_quantity, 0.75D)").as("p75"),
          expr("percentile(l_quantity, 0.99D)").as("p99"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        quantile_cont(l_quantity, 0.25) AS p25,
        quantile_cont(l_quantity, 0.5) AS p50,
        quantile_cont(l_quantity, 0.75) AS p75,
        quantile_cont(l_quantity, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // Term frequencies: generator (explode) + per-doc word counts — the
    // TF half of a TF-IDF pipeline.
    QueryDef("q48_term_frequencies",
      // corpus-proportional output: range-partition raw docs on doc_id —
      // explode preserves it, and RangePartitioning(doc_id) satisfies the
      // (doc_id, w) grouping's ClusteredDistribution (subset rule), so
      // the TF aggregation runs exchange-free and the (doc_id, w) total
      // order comes out of a parallel sortWithinPartitions (all rows of
      // one doc share a partition, partitions are doc_id ranges)
      (s, d) => documents(s, d)
        .repartitionByRange(col("doc_id"))
        .select(col("doc_id"),
          explode(Fns.words(col("text"))).as("w"))
        .groupBy("doc_id", "w")
        .agg(count(lit(1)).as("tf"))
        .sortWithinPartitions("doc_id", "w"),
      Some("""SELECT doc_id, w, COUNT(*) AS tf
        FROM (SELECT doc_id,
          unnest(string_split_regex(trim(text), '\s+')) AS w
          FROM documents)
        GROUP BY doc_id, w ORDER BY doc_id, w""")),

    // Corpus vocabulary stats: total term count + document frequency,
    // top-20 (the DF half; count-distinct over an exploded generator).
    QueryDef("q49_vocabulary_stats",
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          explode(Fns.words(col("text"))).as("w"))
        .groupBy("w")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(desc("n"), col("w"))
        .limit(20),
      Some("""SELECT w, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS df
        FROM (SELECT doc_id,
          unnest(string_split_regex(trim(text), '\s+')) AS w
          FROM documents)
        GROUP BY w ORDER BY n DESC, w LIMIT 20""")),

    // Consensus verdicts (CanonicalQueries.consensusVerdicts shape on
    // the lineitem analog): majority trace per order = consensus;
    // each supplier scored by agreement ratio.
    QueryDef("q50_consensus_verdicts",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // one exchange serves FOUR operators: hash-partitioning on
        // l_orderkey (subset of the first grouping key) satisfies the
        // (supp, order) signature agg AND both window specs below —
        // and the first grouping compresses nothing (580k groups from
        // 600k rows), so shuffling raw rows costs the same bytes as
        // shuffling partial-agg buffers.
        // sig = unhex(md5(to_json(...))): the tie-break below must
        // order exactly like the DuckDB mirror's md5 hex strings —
        // unhex is order-preserving (hex is monotone in the bytes) and
        // halves the key the two window sorts carry. The groups here
        // average ~1 row, so the composed expression chain beats a
        // typed-buffer aggregate (measured; plans/SigListAgg is the
        // right tool only for multi-row traces — see consensusVerdicts).
        val sigs = lineitem(s, d)
          .repartition(col("l_orderkey"))
          .groupBy("l_suppkey", "l_orderkey")
          .agg(unhex(md5(to_json(Fns.orderedCollect(col("l_linenumber"),
            col("l_returnflag"))))).as("sig"))
        // votes and consensus as two window passes, ONE sort (round 11
        // A/B): window 1 sorts by (l_orderkey, sig); window 2 selects
        // the consensus as min(struct(-votes, sig)) over the order
        // partition — an UNORDERED whole-partition aggregate whose
        // required sort (l_orderkey) is a PREFIX of window 1's, so its
        // SortExec elides. The old form's `first() over (order by
        // votes desc, sig)` forced a real second sort of the full sig
        // stream; struct-min replicates its exact (desc votes, asc
        // sig) tie-break. An aggregate+join-back variant loses: the
        // DAG split re-executes the signature aggregation twice
        // (measured 24.4s vs 14.3s at sf3 — SCALE.md round 11).
        sigs
          .withColumn("votes", count(lit(1)).over(
            Window.partitionBy("l_orderkey", "sig")))
          .withColumn("consensus_sig",
            min(struct(negate(col("votes")).as("nv"), col("sig")))
              .over(Window.partitionBy("l_orderkey"))
              .getField("sig"))
          .select(col("l_suppkey").as("implementation"),
            (col("sig") === col("consensus_sig")).cast("int").as("agree"))
          .groupBy("implementation")
          // plain count, not countDistinct: a supplier has exactly ONE
          // sig row per order, so (implementation, order) rows are
          // unique and the distinct's 2x Expand would buy nothing
          .agg(count(lit(1)).as("n_tests"),
            sum(col("agree")).as("n_agree"),
            (sum(col("agree")).cast("double") /
              count(lit(1))).as("agreement_ratio"))
          .transform(QueryDef.sorted1(_, desc("agreement_ratio"),
            col("implementation")))
      },
      Some("""WITH s1 AS (
        SELECT l_suppkey, l_orderkey,
          md5(CAST(to_json(list(l_returnflag
            ORDER BY l_linenumber, l_returnflag)) AS VARCHAR)) AS sig
        FROM lineitem GROUP BY l_suppkey, l_orderkey),
      v AS (
        SELECT l_orderkey, sig, COUNT(DISTINCT l_suppkey) AS votes
        FROM s1 GROUP BY l_orderkey, sig),
      c AS (
        SELECT l_orderkey, sig AS consensus_sig FROM (
          SELECT *, row_number() OVER (PARTITION BY l_orderkey
            ORDER BY votes DESC, sig) AS rk FROM v)
        WHERE rk = 1)
      SELECT s1.l_suppkey AS implementation,
        COUNT(DISTINCT s1.l_orderkey) AS n_tests,
        CAST(SUM(CASE WHEN s1.sig = c.consensus_sig THEN 1 ELSE 0 END)
          AS BIGINT) AS n_agree,
        CAST(SUM(CASE WHEN s1.sig = c.consensus_sig THEN 1 ELSE 0 END)
          AS DOUBLE) / COUNT(DISTINCT s1.l_orderkey) AS agreement_ratio
      FROM s1 JOIN c USING (l_orderkey)
      GROUP BY s1.l_suppkey
      ORDER BY agreement_ratio DESC, implementation""")),

    // Array function family: construction, sorted dedup, membership,
    // slicing, set ops — results canonicalized by sorting on both sides
    // (engines differ on set-op output order). Array-typed columns are
    // serialized with array_join in the final projection: the verify
    // harness sorts rows with pandas, which cannot hash raw arrays.
    QueryDef("q51_array_funcs",
      (s, d) => lineitem(s, d)
        // range-partition raw rows by the grouping key (see q05): the
        // collect aggregation runs exchange-free and the final order
        // comes out of sortWithinPartitions in parallel
        .repartitionByRange(col("l_orderkey"))
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_returnflag"))).as("flags"),
          sort_array(collect_set(col("l_linestatus"))).as("statuses"))
        .select(col("l_orderkey"),
          size(col("flags")).as("n"),
          array_contains(col("flags"), "R").as("has_r"),
          array_join(array_distinct(col("flags")), ",")
            .as("distinct_flags"),
          array_join(slice(col("flags"), 1, 2), ",").as("first2"),
          array_join(array_sort(array_union(col("flags"),
            col("statuses"))), ",").as("merged"))
        .sortWithinPartitions("l_orderkey"),
      Some("""WITH a AS (
        SELECT l_orderkey,
          list_sort(list(l_returnflag)) AS flags,
          list_sort(list(DISTINCT l_linestatus)) AS statuses
        FROM lineitem GROUP BY l_orderkey)
      SELECT l_orderkey,
        len(flags) AS n,
        list_contains(flags, 'R') AS has_r,
        array_to_string(list_sort(list_distinct(flags)), ',')
          AS distinct_flags,
        array_to_string(flags[1:2], ',') AS first2,
        list_aggregate(list_sort(list_distinct(
          list_concat(flags, statuses))), 'string_agg', ',') AS merged
      FROM a ORDER BY l_orderkey""")),

    // Struct construction + canonical JSON serialization.
    QueryDef("q52_struct_funcs",
      (s, d) => supplier(s, d).select(
        col("s_suppkey"),
        to_json(struct(col("s_name").as("name"),
          col("s_nationkey").as("nation"),
          col("s_acctbal").as("bal"))).as("doc"))
        .orderBy("s_suppkey"),
      Some("""SELECT s_suppkey,
        CAST(to_json(struct_pack(name := s_name, nation := s_nationkey,
          bal := s_acctbal)) AS VARCHAR) AS doc
        FROM supplier ORDER BY s_suppkey""")),

    // TF-IDF: the IDF half completing q48's term frequencies — df via
    // distinct (doc, term), corpus size as a broadcast scalar aggregate
    // (the q37 scalar-subquery shape), score = tf * ln(N/df) rounded to
    // 6 dp on both sides (ln may differ in the last ulp between libm
    // and the JVM; rounding makes the hash stable, as in q25/q26).
    QueryDef("q56_tfidf",
      (s, d) => {
        val w = documents(s, d)
          .select(col("doc_id"), explode(Fns.words(col("text"))).as("w"))
        val tf = w.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        // df DERIVED FROM tf (one row per distinct (doc_id, w) already),
        // not from a second `w.distinct().groupBy` pass: both join
        // branches now share the identical (doc_id, w) aggregation
        // subtree, so Catalyst's ReuseExchange collapses them to ONE
        // scan + explode + shuffle (the old form's distinct-then-agg
        // branch differed and re-ran the corpus scan; same-JVM
        // interleaved A/B at sf1: 4.04 s -> 1.43 s median). The count
        // deliberately references tf (always >= 1, so it IS the row
        // count): a bare count(1) lets column pruning drop the tf
        // aggregate from this branch's copy of the subtree, the
        // subtrees stop being identical, and reuse is lost — verified
        // both ways with Explain.
        val df = tf.groupBy("w")
          .agg(count(when(col("tf") >= 1, 1)).as("df"))
        tf.join(df, "w")
          .crossJoin(broadcast(
            documents(s, d).agg(count(lit(1)).as("n"))))
          .select(col("doc_id"), col("w"), col("tf"),
            round(col("tf") * log(col("n") / col("df")), 6).as("tfidf"))
          // corpus-proportional output; the tf⋈df join clusters by w, so
          // the (doc_id, w) order needs its own exchange — make it a
          // parallel range sort, never one task
          .transform(QueryDef.sortedP(_, col("doc_id"), col("w")))
      },
      Some("""WITH w AS (
        SELECT doc_id,
          unnest(string_split_regex(trim(text), '\s+')) AS w
        FROM documents),
      tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM w GROUP BY doc_id, w),
      df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY w),
      n AS (SELECT COUNT(*) AS n FROM documents)
      SELECT doc_id, w, tf,
        round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
      FROM tf JOIN df USING (w), n
      ORDER BY doc_id, w""")),

    // Correlated subqueries through the SQL surface: EXISTS (plans as a
    // semi join), NOT EXISTS (anti join) and a correlated scalar
    // subquery in the projection — the remaining classic SQL shapes
    // beyond q33's DataFrame semi/anti and q37's uncorrelated scalar.
    QueryDef("q57_correlated_subqueries",
      (s, d) => {
        orders(s, d).createOrReplaceTempView("v_orders_cs")
        lineitem(s, d).createOrReplaceTempView("v_lineitem_cs")
        s.sql("""SELECT o_orderkey, o_custkey,
            (SELECT COUNT(*) FROM v_lineitem_cs l
             WHERE l.l_orderkey = o.o_orderkey) AS n_lines
          FROM v_orders_cs o
          WHERE EXISTS (SELECT 1 FROM v_lineitem_cs l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
            AND NOT EXISTS (SELECT 1 FROM v_lineitem_cs l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity < 2)
          ORDER BY o_orderkey""")
      },
      Some("""SELECT o_orderkey, o_custkey,
          (SELECT COUNT(*) FROM lineitem l
           WHERE l.l_orderkey = o.o_orderkey) AS n_lines
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
          AND NOT EXISTS (SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity < 2)
        ORDER BY o_orderkey""")),

    // Multiset diff at HIGH key cardinality: q45 proves the count-
    // arithmetic set ops on a 3-value key (the ReplicateRows-hazard
    // case); this proves them where the key is l_orderkey — 15M
    // distinct keys at sf10 — so the key-count join itself runs at
    // data scale, plus a NULL-bearing second key exercising the
    // null-safe (<=>) join condition (set ops group NULL keys as
    // equal; a plain equi-join would split them). The consumer rolls
    // the per-key multiplicities into a (op, m, n) histogram with a
    // sum-of-keys checksum, so any per-key miscount or misassigned
    // multiplicity moves sum_k. The oracle computes the SEMANTIC
    // definition (EXCEPT ALL / INTERSECT ALL, then count per key) —
    // the equivalence of the two forms is what the hash match proves.
    // m is coalesced to -1 only in the OUTPUT (NULL flows through the
    // multiset op) because engines disagree on NULL sort order.
    QueryDef("q110_multiset_key_diff",
      (s, d) => {
        val li = lineitem(s, d)
        def side(f: org.apache.spark.sql.Column) = li.filter(f)
          .select(col("l_orderkey").as("k"),
            expr("nullif(l_linenumber % 3, 2)").as("m"))
        val a = side(col("l_linenumber") <= 4)
        val b = side(col("l_linenumber") >= 2)
        graft.ops.Multiset.setOpCounts(a, b, Seq("k", "m"))
          .groupBy(col("op"), coalesce(col("m"), lit(-1)).as("m"),
            col("n"))
          .agg(count(lit(1)).as("n_keys"), sum("k").as("sum_k"))
          .orderBy("op", "m", "n")
      },
      Some("""WITH a AS (SELECT l_orderkey AS k,
            nullif(l_linenumber % 3, 2) AS m
          FROM lineitem WHERE l_linenumber <= 4),
        b AS (SELECT l_orderkey AS k,
            nullif(l_linenumber % 3, 2) AS m
          FROM lineitem WHERE l_linenumber >= 2),
        ex AS (SELECT k, m, COUNT(*) AS n FROM
          (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY k, m),
        ia AS (SELECT k, m, COUNT(*) AS n FROM
          (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY k, m)
      SELECT op, coalesce(m, -1) AS m, n,
          COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS sum_k
        FROM (SELECT 'except_all' AS op, * FROM ex
              UNION ALL SELECT 'intersect_all' AS op, * FROM ia)
        GROUP BY op, m, n ORDER BY op, m, n"""))
  )
}
