package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashes

/** Width-parameterized duplicated-span coverage — the exact-substring dedup
  * signal of Lee et al. 2022 (arXiv:2107.06499), whose production setting is
  * ~50-gram windows. q122 implements the fixed 3-gram variant inline; this
  * operator generalizes the same algebra to any width w:
  *
  *   w-gram shingle hashes → census (shingle in ≥2 distinct docs) →
  *   hit positions semi-joined back → interval-union sweep (each hit covers
  *   tokens [pos, pos+w−1]; overlapping/touching hits merge into islands).
  *
  * Scale shape (identical to q122's): the census groupBy is on the uniform
  * shingle hash; the per-doc window sweep runs over HIT rows only — the full
  * token stream never enters a window. Shingle hashing is O(n·w) integer
  * arithmetic in plain expressions (a fold per window), embarrassingly
  * parallel and shuffle-free; all of it replays in DuckDB token for token.
  */
object DupSpans {
  import Hashes.Prime

  /** w-gram shingle hashes: fold h = (h·31 + tokenHash(t)) mod P over each
    * width-long window; docs shorter than `width` yield an empty array.
    * One codegen'd kernel pass per row
    * ([[graft.functions.TextHashExprs.FoldShinglesExpr]]) — the equivalent
    * HOF tree (`transform` + `aggregate(slice)` per window) degrades to
    * interpreted eval at O(n·w) lambda dispatches and was measured 8×
    * slower on q128's island pass at sf0.1. Values are bit-identical to the
    * fold (and to [[shingleHashesSql]]'s replay).
    */
  def shingleHashes(tokens: Column, width: Int): Column = {
    require(width >= 1, s"width must be >= 1, got $width")
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.TextHashExprs.FoldShinglesExpr(
      GraftColumnBridge.expression(tokens), width))
  }

  /** DuckDB twin of [[shingleHashes]] — same fold, same op order. */
  def shingleHashesSql(toks: String, width: Int): String =
    s"""CASE WHEN len($toks) >= $width THEN
       |  list_transform(range(0, len($toks) - ${width - 1}),
       |    i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform($toks[i + 1 : i + $width],
       |             t -> ${Hashes.tokenHashSql("t")})),
       |         (acc, x) -> (acc * 31 + x) % $Prime))
       |ELSE [] END""".stripMargin

  /** Width-w EXACT window keys: the literal w tokens joined by U+0001
    * ([[graft.functions.TextHashExprs.WindowJoinExpr]], one kernel pass per
    * row). No hash collisions — Lee et al.'s ExactSubstr guarantee — at the
    * cost of shuffling ~w-token string keys instead of 8-byte hashes.
    */
  def windowKeys(tokens: Column, width: Int): Column = {
    require(width >= 1, s"width must be >= 1, got $width")
    import org.apache.spark.sql.GraftColumnBridge
    GraftColumnBridge.column(graft.functions.TextHashExprs.WindowJoinExpr(
      GraftColumnBridge.expression(tokens), width))
  }

  /** DuckDB twin of [[windowKeys]]. */
  def windowKeysSql(toks: String, width: Int): String =
    s"""CASE WHEN len($toks) >= $width THEN
       |  list_transform(range(0, len($toks) - ${width - 1}),
       |    i -> array_to_string($toks[i + 1 : i + $width], chr(1)))
       |ELSE [] END""".stripMargin

  /** Byte/character-granularity EXACT-substring window keys — Lee et al.'s
    * ExactSubstr operates on RAW BYTES, not tokens (arXiv:2107.06499 §3.1),
    * because byte-level duplicates can TOKENIZE differently: punctuation
    * glued to a word, prefix/suffix noise on the first token, whitespace
    * variants. A token-window census (any width) misses those entirely —
    * two docs sharing a 100-char run have zero common tokens if every
    * shared token carries different neighbors into the split. Every
    * character offset opens one literal width-`width` substring key
    * (collision-free, like [[windowKeys]]); Lee et al. reach the same
    * signal with a suffix array — the census + sweep reaches the merged
    * spans with one uniform-key exchange instead of a distributed suffix
    * sort.
    *
    * Fixture text is ASCII, so chars ≡ bytes; the algebra is unit-agnostic.
    */
  def charWindowKeys(text: Column, width: Int): Column = {
    require(width >= 1, s"width must be >= 1, got $width")
    when(length(text) >= width,
      transform(sequence(lit(0), (length(text) - lit(width)).cast("int")),
        k => text.substr(k + 1, lit(width))))
      .otherwise(array().cast("array<string>"))
  }

  /** DuckDB twin of [[charWindowKeys]]. */
  def charWindowKeysSql(txt: String, width: Int): String =
    s"""CASE WHEN length($txt) >= $width THEN
       |  list_transform(range(0, length($txt) - ${width - 1}),
       |    k -> substr($txt, k + 1, $width))
       |ELSE [] END""".stripMargin

  /** [[islands]] at character granularity over [[charWindowKeys]]:
    * (doc_id, island, start_pos, end_pos) in CHAR offsets, end = last
    * covered char.
    *
    * `sample` > 1 thins the census by CONTENT-anchored selection — keep a
    * window iff tokenHash(window) mod sample = 0 (Manber 1994's fingerprint
    * sampling). Anchoring on content, not position, is what makes thinning
    * sound: both docs keep the same in-run windows wherever the run sits,
    * so a shared run is detected whenever it contains ≥ 1 anchor (expected
    * every `sample` offsets) — a POSITION stride would silently miss every
    * run whose alignment shift ≢ 0 (mod stride). The filter sits between
    * the generate and the census exchange, so shuffle volume drops ~sample×
    * while the row-local hash pass stays O(n) — the right trade at 100 TB,
    * where the exchange, not the scan, is the bottleneck.
    */
  def islandsChars(docs: DataFrame, text: Column, width: Int,
                   sample: Int = 1): DataFrame = {
    require(sample >= 1, s"sample must be >= 1, got $sample")
    val s0 = docs.select(col("doc_id"),
      posexplode(charWindowKeys(text, width)).as(Seq("pos", "shingle")))
    // tokenHash lands in [0, Prime) so plain % stays non-negative (and
    // DuckDB can state the same expression — no pmod there)
    val anchored =
      if (sample == 1) s0
      else s0.where(Hashes.tokenHash(col("shingle")) % sample === 0)
    sweep(anchored, width)
  }

  /** Per-doc duplicated-CHARACTER coverage: (doc_id, n_chars, covered,
    * dup_frac) — the byte-level twin of [[coverage]], catching duplicates
    * that tokenize differently.
    */
  def coverageChars(docs: DataFrame, text: Column, width: Int,
                    sample: Int = 1): DataFrame = {
    val cov = islandsChars(docs, text, width, sample)
      .groupBy("doc_id")
      .agg(sum(col("end_pos") - col("start_pos") + 1).as("covered"))
    docs.select(col("doc_id"), length(text).cast("long").as("n_chars"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chars"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        round(coalesce(col("covered"), lit(0L)).cast("double")
          / col("n_chars"), 6).as("dup_frac"))
  }

  /** The census → hit → interval-union sweep shared by [[islands]] and
    * [[islandsExact]]: `s0` is (doc_id, pos, shingle) with any shingle key
    * type. The census groupBy runs on the (uniform) key; the per-doc window
    * sweep sees HIT rows only — the token stream never enters a window.
    */
  private def sweep(s0: DataFrame, width: Int): DataFrame = {
    val dup = s0.groupBy("shingle").agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2).select("shingle")
    val hit = s0.join(broadcast(dup), Seq("shingle"), "left_semi")
      .select("doc_id", "pos")
    val wOrd = Window.partitionBy("doc_id").orderBy("pos")
    hit
      .withColumn("prev_end", max(col("pos") + (width - 1))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("island",
        sum(when(col("prev_end").isNull || col("pos") > col("prev_end"), 1)
          .otherwise(0)).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("long").as("start_pos"),
        (max("pos") + (width - 1)).cast("long").as("end_pos"))
  }

  /** DuckDB twin of [[sweep]]: from `d0(doc_id, sh)` (each doc's shingle
    * array) the CTEs `s0` (doc_id, pos, shingle) → `dup` (the ≥ 2-doc
    * census) → `hit` (doc_id, pos), then [[islandIdsSql]].
    */
  def sweepSql(width: Int): String =
    s"""s0 AS (SELECT doc_id, i - 1 AS pos, sh[i] AS shingle FROM (
       |  SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS i FROM d0)),
       |dup AS (SELECT shingle FROM (
       |  SELECT shingle, count(DISTINCT doc_id) AS nd FROM s0 GROUP BY 1)
       |  WHERE nd >= 2),
       |hit AS (SELECT s0.doc_id, s0.pos FROM s0 JOIN dup USING (shingle)),
       |${islandIdsSql(width)}""".stripMargin

  /** The interval-union half of [[sweepSql]]: hit positions
    * `hit(doc_id, pos)` → `m` (running max of the previous hits' ends) →
    * `i` (doc_id, pos, island).
    */
  def islandIdsSql(width: Int): String =
    s"""m AS (SELECT doc_id, pos,
       |        max(pos + ${width - 1}) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
       |      FROM hit),
       |i AS (SELECT doc_id, pos,
       |        sum(CASE WHEN prev_end IS NULL OR pos > prev_end
       |            THEN 1 ELSE 0 END)
       |          OVER (PARTITION BY doc_id ORDER BY pos
       |            ROWS UNBOUNDED PRECEDING) AS island
       |      FROM m)""".stripMargin

  /** DuckDB twin of [[coverage]] / [[coverageChars]] after [[sweepSql]]:
    * islands `i` → (doc_id, `n`, covered, dup_frac), `n` being the length
    * column `d0` carries.
    */
  def coverageSql(width: Int, n: String): String =
    s"""isl AS (SELECT doc_id, island, max(pos) + ${width - 1} - min(pos) + 1 AS cov
       |        FROM i GROUP BY doc_id, island),
       |cv AS (SELECT doc_id, CAST(sum(cov) AS BIGINT) AS covered
       |       FROM isl GROUP BY doc_id)
       |SELECT d0.doc_id, d0.$n, coalesce(cv.covered, 0) AS covered,
       |       round(CAST(coalesce(cv.covered, 0) AS DOUBLE) / $n, 6)
       |         AS dup_frac
       |FROM d0 LEFT JOIN cv USING (doc_id) ORDER BY d0.doc_id""".stripMargin

  /** Merged duplicated intervals per doc: (doc_id, island, start_pos,
    * end_pos) with end = last covered token index. Islands are disjoint and
    * non-touching by construction — a new island only opens when
    * pos > running-max(previous end).
    */
  def islands(docs: DataFrame, tokens: Column, width: Int): DataFrame =
    sweep(docs.select(col("doc_id"),
      posexplode(shingleHashes(tokens, width)).as(Seq("pos", "shingle"))), width)

  /** [[islands]] with EXACT window keys ([[windowKeys]]): identical algebra,
    * zero false positives. Use when the hash family's collision probability
    * is unacceptable (legal/compliance scrubbing) and the wider shuffle is
    * affordable; at web scale the standard trick is groupBy(hash(key), key)
    * — same single exchange, collision-free verification for free.
    */
  def islandsExact(docs: DataFrame, tokens: Column, width: Int): DataFrame =
    sweep(docs.select(col("doc_id"),
      posexplode(windowKeys(tokens, width)).as(Seq("pos", "shingle"))), width)

  /** [[coverage]] over [[islandsExact]] — the exact-substring dedup signal
    * with no hash collisions.
    */
  def coverageExact(docs: DataFrame, tokens: Column, width: Int): DataFrame =
    coverageFrom(islandsExact(docs, tokens, width), docs, tokens)

  /** Per-doc duplicated-token coverage: (doc_id, n_tokens, covered,
    * dup_frac) — the fraction of each doc's tokens inside a merged
    * duplicated span.
    */
  def coverage(docs: DataFrame, tokens: Column, width: Int): DataFrame =
    coverageFrom(islands(docs, tokens, width), docs, tokens)

  private def coverageFrom(isl: DataFrame, docs: DataFrame,
                           tokens: Column): DataFrame = {
    val cov = isl
      .groupBy("doc_id")
      .agg(sum(col("end_pos") - col("start_pos") + 1).as("covered"))
    docs.select(col("doc_id"), size(tokens).cast("long").as("n_tokens"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        round(coalesce(col("covered"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_frac"))
  }

  /** Reconstruct each document with every duplicated-span island REMOVED —
    * the action [[coverage]] only measures (Lee et al. apply exactly this
    * surgery to C4/RealNews: cut each duplicated span, keep the remainder,
    * arXiv:2107.06499 §4). Policy: a covered token is dropped from EVERY
    * document carrying it — the span's content survives nowhere. That is
    * deliberately the aggressive variant (Lee et al. keep one occurrence);
    * keep-one requires electing a global representative per span cluster,
    * which is [[graft.queries.DedupQueries]]' q115 pipeline at document
    * granularity — at span granularity the remove-all policy is what the
    * boilerplate use case (headers, license blocks, navigation chrome)
    * actually wants.
    *
    * Scale shape: islands are computed by [[islands]] (census on the uniform
    * shingle hash, windows over hit rows only); the reconstruction then
    * joins the SPANS relation — |islands| rows, ≪ corpus — back to the doc
    * table on doc_id and does all token surgery row-locally with array
    * HOFs: no token-level explode, no token-level join, no window over the
    * token stream. Per-row cost is O(n_tokens · islands-in-doc); islands
    * per doc is small by construction (they are merged, disjoint,
    * non-touching).
    *
    * @return (doc_id, n_tokens, n_kept, clean_text) — clean_text is the
    *         surviving tokens joined by a single space, in original order.
    */
  def scrub(docs: DataFrame, tokens: Column, width: Int): DataFrame =
    removeSpans(docs, tokens,
      islands(docs, tokens, width).select("doc_id", "start_pos", "end_pos"))

  /** Token surgery shared by [[scrub]] and [[scrubKeepOne]]: drop from each
    * document every token whose position falls inside one of that doc's
    * `cut` spans (doc_id, start_pos, end_pos). The cut relation is
    * |islands|-sized (≪ corpus), joined doc-level, and the removal itself is
    * row-local array expressions — no token-level explode, join, or window.
    *
    * The kept tokens are assembled by GAP slicing, not per-token predicate
    * tests: cut spans are disjoint, sorted and non-touching (the island
    * construction guarantees it; a subset preserves it), so the survivors
    * are exactly the ≤ |spans|+1 gaps between consecutive spans, each one
    * `slice` of the token array. That is O(n_tokens + spans) per row; the
    * naive `filter(tokens, t => !exists(spans, covers))` form is
    * O(n_tokens · spans) interpreted-lambda evaluations and measured 10×
    * slower on the sf0.1 sweep (17 s → under 2 s for q128).
    */
  private def removeSpans(docs: DataFrame, tokens: Column,
                          cut: DataFrame): DataFrame = {
    val spans = cut
      .groupBy("doc_id")
      .agg(sort_array(collect_list(
        struct(col("start_pos"), col("end_pos")))).as("spans"))
    val noSpans = array().cast("array<struct<start_pos:bigint,end_pos:bigint>>")
    val sp = col("sp")
    val toks = col("toks")
    // gap i ∈ [0, |sp|]: tokens strictly between span i-1's end and span
    // i's start (document edges at the extremes); empty gaps slice to []
    val gapStart = (i: Column) =>
      when(i === 0, lit(0L)).otherwise(element_at(sp, i)("end_pos") + 1)
    val gapEnd = (i: Column) =>
      when(i === size(sp), size(toks).cast("long") - 1)
        .otherwise(element_at(sp, i + 1)("start_pos") - 1)
    docs.select(col("doc_id"), tokens.as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("spans"), noSpans).as("sp"), toks)
      .select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        flatten(transform(sequence(lit(0), size(sp)), i =>
          slice(toks, (gapStart(i) + 1).cast("int"),
            greatest(gapEnd(i) - gapStart(i) + 1, lit(0L)).cast("int"))))
          .as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("n_kept"),
        array_join(col("kept"), " ").as("clean_text"))
  }

  /** [[islands]] plus a content fingerprint per island: the same
    * `(acc·31 + tokenHash) mod P` fold the shingle hashes use, run over the
    * island's covered tokens — i.e. an island's fingerprint IS its
    * (en−st+1)-gram shingle hash, so two islands agree iff their covered
    * token sequences agree (up to hash collision). Row-local: the spans
    * relation joins back to the doc's token array and the fold runs over a
    * slice — no token explode.
    */
  def islandFingerprints(docs: DataFrame, tokens: Column,
                         width: Int): DataFrame =
    islands(docs, tokens, width)
      .join(docs.select(col("doc_id"), tokens.as("toks")), "doc_id")
      .select(col("doc_id"), col("start_pos"), col("end_pos"),
        aggregate(
          slice(col("toks"), (col("start_pos") + 1).cast("int"),
            (col("end_pos") - col("start_pos") + 1).cast("int")),
          lit(0L),
          (acc, t) => (acc * 31L + Hashes.tokenHash(t)) % Prime).as("fp"))

  /** Lee et al.'s keep-ONE-occurrence policy (arXiv:2107.06499 §4): each
    * duplicated span survives in exactly one document — the global
    * representative — and is cut everywhere else. Representative election is
    * per island CONTENT ([[islandFingerprints]]): the lexicographically
    * smallest (doc_id, start_pos) among islands with the same fingerprint
    * keeps its text. Islands whose merged extents differ across docs have
    * different fingerprints and each remains its own (kept) cluster — the
    * conservative direction: never cut text that has no surviving twin.
    *
    * Scale shape: everything [[scrub]] does, plus one window over the
    * islands relation partitioned by fingerprint — |islands| rows, uniform
    * hash key, never the token stream.
    */
  def scrubKeepOne(docs: DataFrame, tokens: Column, width: Int): DataFrame = {
    val ranked = islandFingerprints(docs, tokens, width)
      .withColumn("rn", row_number().over(
        Window.partitionBy("fp").orderBy("doc_id", "start_pos")))
    removeSpans(docs, tokens,
      ranked.where(col("rn") > 1).select("doc_id", "start_pos", "end_pos"))
  }

  /** DuckDB twin of [[removeSpans]]: drop from `t(doc_id, toks)` every
    * token inside a `cut(doc_id, st, en)` span, then (doc_id, n_tokens,
    * n_kept, clean_text) against `d0(doc_id, n_tokens)`.
    */
  def removeSpansSql(cut: String): String =
    s"""tp AS (SELECT doc_id, i - 1 AS pos, toks[i] AS tok FROM (
       |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)),
       |kept AS (SELECT tp.doc_id, tp.pos, tp.tok FROM tp
       |         WHERE NOT EXISTS (SELECT 1 FROM $cut
       |           WHERE $cut.doc_id = tp.doc_id
       |             AND tp.pos >= $cut.st AND tp.pos <= $cut.en)),
       |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
       |               string_agg(tok, ' ' ORDER BY pos) AS clean_text
       |        FROM kept GROUP BY doc_id)
       |SELECT d0.doc_id, d0.n_tokens,
       |       coalesce(agg.n_kept, 0) AS n_kept,
       |       coalesce(agg.clean_text, '') AS clean_text
       |FROM d0 LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Deterministic long-doc fixture, constructed from arithmetic on both
    * engines (no data files): `nDocs` docs of `nTokens` tokens with
    * engineered duplication — tokens [100, 180) are an 80-token run common
    * to ALL docs (hits any width ≤ 80), tokens [200, 230) a 30-token run
    * shared within doc-id parity classes (hits width ≤ 30 only), everything
    * else unique per (doc, position). Token spellings are distinct strings
    * across classes, so the full-content tokenHash keeps them distinct
    * where the fixture means "unique".
    */
  def syntheticLongDocs(spark: SparkSession, nDocs: Int = 6,
                        nTokens: Int = 400): DataFrame =
    spark.range(nDocs).select(col("id").as("doc_id"),
      transform(sequence(lit(0), lit(nTokens - 1)), t =>
        when(t >= 100 && t < 180, concat(lit("c"), t.cast("string")))
          .when(t >= 200 && t < 230,
            concat(lit("s"), t.cast("string"), lit("_"),
              pmod(col("id"), lit(2)).cast("string")))
          .otherwise(concat(lit("u"), t.cast("string"), lit("_"),
            col("id").cast("string")))).as("toks"))

  /** DuckDB twin of [[syntheticLongDocs]]. */
  def syntheticLongDocsSql(nDocs: Int = 6, nTokens: Int = 400): String =
    s"""SELECT d AS doc_id, list_transform(range(0, $nTokens), t ->
       |  CASE WHEN t >= 100 AND t < 180 THEN 'c' || t
       |       WHEN t >= 200 AND t < 230 THEN 's' || t || '_' || (d % 2)
       |       ELSE 'u' || t || '_' || d END) AS toks
       |FROM (SELECT unnest(range(0, $nDocs)) AS d)""".stripMargin
}
