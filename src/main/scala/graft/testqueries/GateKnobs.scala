package graft.testqueries

/** Scale knobs for the handful of declared queries whose DuckDB ORACLE
  * cost grows super-linearly with the corpus even though the Spark side
  * stays cheap. The scale gate (tools/gate.sh) is only useful
  * if it runs routinely; at sf1 the un-knobbed q39/q76 oracle is a
  * ~10-minute DuckDB inequality join EACH (~100M qualifying pairs) and
  * q74's recursive-CTE clustering replay exceeds DuckDB's memory —
  * measured/observed on the round-6 gate.
  *
  * Mechanism: each knob is read ONCE at query-declaration time and
  * interpolated into BOTH the Spark pipeline and the oracle SQL string
  * that `graft.Verify` dumps — the two sides can never disagree, the
  * check stays an exact equivalence on exactly the same inputs. The
  * knobs change the PARAMETERS of the verified query (a narrower join
  * window; a deterministic id-stride subsample of the embeddings), not
  * the operator under test. Defaults reproduce the un-knobbed queries
  * bit-for-bit, so the driver's sf0.01 gate and all committed artifacts
  * are unaffected unless a gate script opts in explicitly.
  *
  * Timing comparisons only hold between runs with equal knob values
  * (gate.sh records them in its artifacts).
  */
object GateKnobs {

  /** q39/q76 range window in micros. Default 5 min. q39's OUTPUT (and
    * so its parquet dump + in-db compare cost) is linear in the window
    * at fixed event density; gate scripts narrow it at sf1+ (30s, then
    * per-scale 3s/1s). Historical note: the window was originally also
    * the ORACLE's wall — DuckDB's native inequality join cost ~19 min
    * at sf1 even at 3s — until round 6 rewrote both oracles as
    * bucketed equi-joins (seconds at any gate scale), so today the
    * knob mostly bounds q39's pair-enumeration output size. */
  val rangeWindowUs: Long =
    sys.env.get("GRAFT_GATE_RANGE_WINDOW_US").map(_.toLong)
      .getOrElse(300000000L)

  /** q74 keeps embeddings with vec_id % mod == 0. Default 1 (all).
    * Candidate-pair work falls ~quadratically in the kept fraction;
    * the clustering replay stays an exact equivalence on the subset. */
  val embSampleMod: Long =
    sys.env.get("GRAFT_GATE_EMB_MOD").map(_.toLong).getOrElse(1L)

  /** q23 Jaccard threshold. Default 0.3. At sf10 the replicated
    * corpus + the df-cap leave NO pair at ≥0.3 — the gate row was
    * green but VACUOUS (0 rows on both engines proves nothing about
    * the intersection/threshold logic). Gate scripts move it (with the
    * df-cap) at the extreme scale so the sf10 row exercises real pairs
    * — 0.9 keeps the pair count bounded once the raised cap re-admits
    * the replicated shingles; candidate
    * generation (and so oracle cost) is bounded by the df-cap either
    * way — the knob only moves the final filter. */
  val jaccardThreshold: Double =
    sys.env.get("GRAFT_GATE_JACCARD_T").map(_.toDouble).getOrElse(0.3)

  /** q23 shingle df-cap. Default 50. Scales with replication: a doc
    * duplicated k× by ScaleUp multiplies every shingle's df by k, so
    * a fixed cap silently drops ALL shared shingles once k > cap —
    * the other half of the sf10 vacuity. */
  val jaccardMaxDf: Int =
    sys.env.get("GRAFT_GATE_JACCARD_MAXDF").map(_.toInt).getOrElse(50)
}
