package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.Fns

/** Corpus-scale BPE merge learning (Sennrich, Haddow & Birch 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") —
  * the tokenizer-training step of an LLM data pipeline, done the way
  * that scales: the corpus collapses to its WORD-FREQUENCY table first
  * (one shuffle proportional to the vocabulary, not the corpus — the
  * classic reduction), and every merge round then works on that small
  * weighted table.
  *
  * The weighted table is driver-sized (one row per distinct word), so
  * it is collected ONCE and every merge round runs as a plain loop on
  * the driver — the state a BPE trainer holds in one process, and the
  * precedent of [[Similarity.ivfCentroids]] keeping its centroids on
  * the driver between Lloyd rounds. Per round: adjacent symbol pairs
  * weighted by word frequency, the argmax (deterministic tie-break:
  * highest count, then the smallest (left, right) in UTF-8 byte order,
  * Spark's string order), and the merge applied
  * leftmost-non-overlapping inside every word — the left fold's
  * last-element test reproduces BPE's left-to-right merge order
  * exactly ('l l l' under merge (l,l) becomes '(ll) l', because the
  * just-merged symbol no longer equals the left constituent; the same
  * fold as [[applyMerge]]).
  *
  * Learning is iterative (merge k depends on merges 1..k-1), but for a
  * FIXED k it still has a single-statement SQL form: k chained CTE
  * groups, each one pair-count aggregation + argmax + one literal
  * replace over the `|`-wrapped word states (the [[encodeTokenCounts]]
  * encoding, whose replace-all is property-equal to [[applyMerge]]'s
  * leftmost-non-overlapping fold). The declared query (q90) carries
  * exactly that oracle, so merge learning sits under the hard
  * rows+schema+hash gate like everything else; the spec additionally
  * asserts the textbook example corpus by hand. Words are normalized
  * by stripping the `|` delimiter first — the same tokenizer
  * normalization [[encodeTokenCounts]] applies, so training and
  * inference agree on the symbol alphabet and the wrapped-string
  * encoding can never be forged by input text.
  */
object BpeTrain {

  /** The word-frequency table: (word, cnt), one row per DISTINCT word.
    * This is the only corpus-sized pass. */
  def wordFrequencies(docs: DataFrame, textCol: Column): DataFrame =
    docs.select(explode(Fns.words(textCol)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Apply one merge (l, r) -> l||r to a symbol-array column,
    * leftmost-non-overlapping via a left fold. */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val lc = lit(l)
    val rc = lit(r)
    aggregate(syms, array().cast("array<string>"),
      (acc, s) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lc && s === rc,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(lc, rc))))
          .otherwise(concat(acc, array(s))))
  }

  /** Learn `k` merges from the corpus. Returns one row per merge:
    * (rank, left, right, merged, pair_cnt), rank = 1-based learning
    * order; fewer than `k` rows when no adjacent pair is left. The
    * frame is local and already in rank order, so it needs no sort.
    * Deterministic: ties on pair count break to the smallest
    * (left, right) in UTF-8 byte order. */
  def learnMerges(docs: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k >= 1, "learnMerges needs k >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    // strip the delimiter (tokenizer normalization, identical to
    // encodeTokenCounts and the oracle), drop words empty after it;
    // split("") then yields per-character symbols
    var words = wordFrequencies(docs, textCol)
      .select(regexp_replace(col("word"), "\\|", "").as("w"), col("cnt"))
      .filter(length(col("w")) > 0)
      .select(split(col("w"), "").as("syms"), col("cnt"))
      .as[(Seq[String], Long)]
      .collect().toSeq
    // every adjacent pair, overlapping ones included, weighted by cnt
    def pairCounts(ws: Seq[(Seq[String], Long)]) = ws
      .flatMap { case (syms, cnt) => syms.zip(syms.drop(1)).map(_ -> cnt) }
      .groupMapReduce(_._1)(_._2)(_ + _)
    // argmax order: highest count, then (left, right) in Spark's string
    // order — unsigned UTF-8 bytes, not String.compareTo's UTF-16 units,
    // which misorder supplementary characters
    implicit val sparkStringOrder: Ordering[UTF8String] = _ compareTo _
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    var pairs = pairCounts(words)
    while (merges.size < k && pairs.nonEmpty) {
      val ((l, r), pc) = pairs.minBy { case ((l, r), c) =>
        (-c, UTF8String.fromString(l), UTF8String.fromString(r)) }
      val lr = l + r
      merges += ((merges.size + 1, l, r, lr, pc))
      words = words.map { case (syms, cnt) =>
        (syms.foldLeft(Vector.empty[String]) { (acc, s) =>
          if (acc.nonEmpty && acc.last == l && s == r) acc.init :+ lr
          else acc :+ s
        }, cnt)
      }
      pairs = pairCounts(words)
    }
    merges.toSeq.toDF("rank", "left", "right", "merged", "pair_cnt")
  }

  /** BPE inference via sequential literal string replacement — the
    * fast, oracle-expressible form of [[tokenCountWithMerges]].
    *
    * Encoding trick: wrap every symbol in its OWN delimiter pair
    * (`h e l l o` → `|h||e||l||l||o|`), then apply merge (l, r) as the
    * literal replace `|l||r|` → `|lr|`. Because adjacent symbol pairs
    * share no characters under individual wrapping, a standard
    * leftmost-scan replace-all (Java `String.replace`, DuckDB
    * `replace`) consumes matches left to right, resumes AFTER each
    * replacement, and cannot rematch text it just produced — exactly
    * the leftmost-non-overlapping fold semantics of [[applyMerge]]
    * (`l l l` → `(ll) l`; property-asserted equal in the spec). Every
    * step is a codegen'd `StringReplace`, no lambda interpretation,
    * and the identical replace chain runs verbatim in SQL.
    *
    * The delimiter is stripped from input words first (a tokenizer
    * normalization, applied identically by the oracle), so text
    * containing `|` cannot forge symbol boundaries.
    *
    * Returns one row per document: (id, n_words, n_subword_tokens).
    */
  def encodeTokenCounts(docs: DataFrame, idCol: String,
      textCol: Column, merges: Seq[(String, String)]): DataFrame = {
    // |c| per character, after stripping the delimiter itself
    val wrapped = regexp_replace(
      regexp_replace(col("w"), "\\|", ""), "(.)", "|$1|")
    val encoded = merges.foldLeft(wrapped) { case (acc, (l, r)) =>
      org.apache.spark.sql.functions.replace(acc,
        lit(s"|$l||$r|"), lit(s"|$l$r|"))
    }
    // each symbol carries exactly two '|'
    val nSub = ((length(encoded) -
      length(org.apache.spark.sql.functions.replace(encoded, lit("|"),
        lit("")))) / 2).cast("long")
    docs.select(col(idCol), explode(Fns.words(textCol)).as("w"))
      .select(col(idCol), nSub.as("n_sub"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub")).as("n_subword_tokens"))
  }

  /** Tokenize text with an already-learned merge list (the inference
    * side): per word, apply the merges in rank order; output one row
    * per document with its subword token count — the signal a packing
    * or budget step consumes. `merges` is the driver-side list
    * [(left, right)] in rank order, broadcast inside the fold chain. */
  def tokenCountWithMerges(docs: DataFrame, idCol: String,
      textCol: Column, merges: Seq[(String, String)]): DataFrame = {
    // the merge chain folds into one nested codegen'd expression over
    // each word's symbol array — no join against the merge table
    val symExpr = merges.foldLeft(split(col("w"), "")) {
      case (acc, (l, r)) => applyMerge(acc, l, r)
    }
    docs.select(col(idCol), explode(Fns.words(textCol)).as("w"))
      .select(col(idCol), size(symExpr).as("n_sub"))
      .groupBy(idCol)
      .agg(sum(col("n_sub")).as("n_subword_tokens"))
  }
}
