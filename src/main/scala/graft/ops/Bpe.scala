package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer TRAINING and encoding at corpus scale
  * (Sennrich et al. 2016 semantics: overlapping pair counts, greedy
  * left-to-right non-overlapping merge application, end-of-word marker).
  *
  * The 100 TB shape: ONE corpus-wide shuffle builds the word-frequency
  * table (map-side combined — the classic "BPE trains on the vocab, not
  * the corpus" trick), and every merge round then runs on that
  * vocab-bounded table (|V| ~ 1e5-1e7 rows regardless of corpus size).
  * Each round is: pair-explode (≤ word-length rows per vocab entry) →
  * map-side-combined sum → ONE argmax row to the driver (exactly like
  * the IVF centroid collect) → a codegen'd `replace` projection. Rounds
  * end in `localCheckpoint` so lineage stays flat. Encoding rejoins the
  * corpus against the trained vocab via a broadcast lookup — the corpus
  * itself is never re-scanned per merge.
  *
  * Exact-replay trick: every merged pair is remapped to a FRESH single
  * codepoint from the Unicode private-use area (0xE000 + round), so a
  * symbol sequence is always "one char = one symbol". Greedy
  * left-to-right merge is then literally `replace(w, "LR", M)` — whose
  * scan-and-skip semantics are identical in Spark and DuckDB — and
  * overlapping pair counting is `substr(w, i, 2)` for i in 1..len-1.
  * Reference behavior modeled: time-series loaders don't train
  * tokenizers; this extends the corpus-statistics plane
  * (`/root/reference/time_series_loader/load_file.py` stops at column
  * statistics) with the standard LLM-pipeline equivalent.
  */
object Bpe {

  /** One learned merge: `rank` is the round (0-based), `lhs`/`rhs` the
    * expanded (base-alphabet) halves, `merged` their concatenation, and
    * `pairCount` the weighted overlapping pair count that won the round.
    */
  final case class Merge(
      rank: Int, lhs: String, rhs: String, merged: String, pairCount: Long)

  private def mergedChar(round: Int): String = (0xE000 + round).toChar.toString

  /** Word-frequency table: `w` (marker-suffixed word, one char per
    * symbol), `w0` (the original surface form, kept for the encode
    * join), `f` (corpus count). Only `[a-z]+` survive — the synthetic
    * corpus is ASCII and this keeps the base alphabet disjoint from the
    * private-use merge symbols.
    */
  def wordCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(Dedup.tokens(col(textCol))).as("w0"))
      .filter(col("w0").rlike("^[a-z]+$"))
      .groupBy("w0")
      .agg(count(lit(1)).as("f"))
      .withColumn("w", concat(col("w0"), lit("_")))

  /** Overlapping adjacent-symbol pairs of `w`, weighted by `f`:
    * substr(w, i, 2) for i in 1..len-1 (1-indexed, like the SQL replay).
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words
      .select(col("f"), explode(
        transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pr"))
      // fully-merged single-symbol words: sequence(1, 0) steps BACKWARDS
      // in Spark (DuckDB's range(1, 1) is empty), leaking 1-char "pairs"
      .filter(length(col("pr")) === 2)
      .groupBy("pr")
      .agg(sum(col("f")).as("cnt"))

  /** Train `nMerges` BPE merges on a word-frequency table from
    * [[wordCounts]]. Returns the learned merge list (driver-side: one
    * argmax row per round crosses the wire) and the final symbolized
    * vocab (still carrying `w0` and `f`) for [[encodeStats]].
    *
    * Ties on pair count break to the lexicographically smallest pair
    * (binary UTF-8 order — identical in Spark and DuckDB).
    */
  def train(
      words0: DataFrame,
      nMerges: Int,
      driverMaxVocab: Long = 100000L): (Seq[Merge], DataFrame) = {
    val checkpointed = words0.localCheckpoint(true)
    // Size dispatch (round 13, guide §1.2 — the componentsWithConvergence
    // pattern): BPE rounds are inherently sequential, so the distributed
    // loop pays one 2-stage job per round no matter how small the vocab —
    // 16 rounds over a tens-of-rows sf0.1 vocab was pure scheduling
    // overhead (measured 2.2 s warm). A vocab at or under
    // `driverMaxVocab` rows (default 1e5 ≈ a few MB of (w0, f, w))
    // collects ONCE and runs the identical greedy fold in local code —
    // same overlapping pair counts, same (count desc, pair asc) argmax
    // (Java String order = code-point order for the BMP symbols used
    // here = Spark/DuckDB binary UTF-8 order), same left-to-right
    // non-overlapping `replace` — so the merge list and final vocab are
    // value-identical (BpeSpec pins both paths). A 100 TB-scale vocab
    // exceeds the cap and keeps the distributed rounds.
    if (checkpointed.count() <= driverMaxVocab)
      trainDriver(checkpointed, nMerges)
    else trainDistributed(checkpointed, nMerges)
  }

  private def trainDriver(
      checkpointed: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    val spark = checkpointed.sparkSession
    var rows = checkpointed.select(col("w0"), col("f"), col("w")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    var expand = Map.empty[Char, String].withDefault(_.toString)
    val merges = Vector.newBuilder[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val cnt = scala.collection.mutable.HashMap.empty[String, Long]
      rows.foreach { case (_, f, w) =>
        var i = 0
        while (i < w.length - 1) {
          val pr = w.substring(i, i + 2)
          cnt.update(pr, cnt.getOrElse(pr, 0L) + f)
          i += 1
        }
      }
      if (cnt.isEmpty) exhausted = true
      else {
        // argmax by (cnt desc, pr asc) — the distributed orderBy's exact
        // comparator (String < on BMP chars = binary UTF-8 order)
        var pr = ""
        var c = Long.MinValue
        cnt.foreach { case (p, n) =>
          if (n > c || (n == c && p < pr)) { pr = p; c = n }
        }
        val m = mergedChar(round)
        val lhs = expand(pr.charAt(0))
        val rhs = expand(pr.charAt(1))
        expand += (m.charAt(0) -> (lhs + rhs))
        merges += Merge(round, lhs, rhs, lhs + rhs, c)
        rows = rows.map { case (w0, f, w) => (w0, f, w.replace(pr, m)) }
        round += 1
      }
    }
    import spark.implicits._
    (merges.result(), rows.toSeq.toDF("w0", "f", "w"))
  }

  private def trainDistributed(
      checkpointed: DataFrame, nMerges: Int): (Seq[Merge], DataFrame) = {
    var words = checkpointed
    val merges = Vector.newBuilder[Merge]
    // expansion of every symbol back to the base alphabet; merged
    // symbols expand recursively through earlier rounds
    var expand = Map.empty[Char, String].withDefault(_.toString)
    var round = 0
    var exhausted = false
    // Rounds chain their `replace` projections LAZILY and only checkpoint
    // every CheckpointEvery rounds (round 13, guide §1.2/§2.4): a round's
    // only unavoidable action is the argmax collect, and an eager
    // localCheckpoint per round doubled the job count for nothing — the
    // un-checkpointed tail a later round re-executes is ≤ CheckpointEvery
    // narrow single-char `replace`s over the vocab-bounded table, pure
    // codegen'd projection on ≤1e7 rows even at 100 TB corpus scale. The
    // periodic checkpoint still bounds plan depth for large nMerges.
    val CheckpointEvery = 8
    while (round < nMerges && !exhausted) {
      val top = pairCounts(words)
        .orderBy(col("cnt").desc, col("pr").asc)
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val pr = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val m = mergedChar(round)
        val lhs = expand(pr.charAt(0))
        val rhs = expand(pr.charAt(1))
        expand += (m.charAt(0) -> (lhs + rhs))
        merges += Merge(round, lhs, rhs, lhs + rhs, cnt)
        words = words.withColumn("w", replace(col("w"), lit(pr), lit(m)))
        round += 1
        if (round % CheckpointEvery == 0) words = words.localCheckpoint(true)
      }
    }
    (merges.result(), words)
  }

  /** Merge table as a DataFrame (the `doc_bpe_merges` result shape). */
  def mergesDf(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (merges, _) = train(wordCounts(df, textCol), nMerges)
    merges.map(m => (m.rank.toLong, m.lhs, m.rhs, m.merged, m.pairCount))
      .toDF("merge_rank", "lhs", "rhs", "merged", "pair_count")
  }

  /** Per-document encode statistics under a trained merge set:
    * `n_words` ([a-z]+ tokens), `n_chars` (their surface chars), and
    * `n_bpe` (symbol count after all merges — `length(w)` since one
    * char = one symbol). The corpus side re-tokenizes ONCE and joins the
    * trained vocab (broadcast: the vocab is sketch-sized relative to the
    * corpus); no per-merge corpus pass.
    */
  def encodeStats(
      df: DataFrame, idCol: String, textCol: String, nMerges: Int): DataFrame = {
    val (_, vocab) = train(wordCounts(df, textCol), nMerges)
    val enc = broadcast(
      vocab.select(col("w0"), length(col("w")).cast("long").as("n_sym")))
    df.select(col(idCol), explode(Dedup.tokens(col(textCol))).as("w0"))
      .filter(col("w0").rlike("^[a-z]+$"))
      .join(enc, Seq("w0"))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_words"),
        sum(length(col("w0"))).cast("long").as("n_chars"),
        sum(col("n_sym")).cast("long").as("n_bpe"))
  }
}
