package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.functions.Hashes
import graft.operators.{Fixpoint, MinHash, PageRank, Split}
import graft.streaming.Drain

/** Training-data text pipeline ops over `documents` (north-star brief):
  * exact dedup, token stats, quality scoring, language-ID, fingerprinting.
  * All declared as deterministic relational queries with DuckDB oracles; the
  * near-dup family (MinHash/SimHash/Jaccard) lives in DedupQueries.
  */
object TextQueries {

  /** Stopword lists for the language-ID heuristic — tiny, literal, broadcast
    * by constant folding. One list per fixture language.
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of"),
    "de" -> Seq("der", "die", "und"),
    "es" -> Seq("el", "la", "los"),
    "fr" -> Seq("le", "la", "les"),
    "zh" -> Seq("de", "shi", "he"))

  val defs: Seq[QueryDef] = Seq(

    // Exact deduplication: content-hash groupBy, keep the minimum doc_id —
    // the canonical exact-dedup shape (hash shuffle on the digest only).
    QueryDef("q30_exact_dedup",
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keeper,
        |       count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY keeper""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(sha2(col("text"), 256).as("content_hash"))
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_copies"))
        .orderBy("keeper")
    },

    // Token counting (whitespace tokenizer) + char stats per doc.
    QueryDef("q31_token_count",
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
        |       length(text) AS n_chars_measured, n_chars
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).as("n_tokens"),
          length(col("text")).cast("long").as("n_chars_measured"),
          col("n_chars"))
        .orderBy("doc_id")
    },

    // BPE-ish token counting: regex word-piece segmentation (letter runs,
    // single digits, single punctuation — the GPT-2-style pre-tokenizer
    // shape) plus the chars/4 estimator used for quick budget accounting.
    // Pure per-row regexp — narrow, codegen, no shuffle.
    QueryDef("q71_bpe_tokens",
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]'))
        |         AS BIGINT) AS n_pieces,
        |       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tok_est
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"),
            lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0))).cast("long").as("n_pieces"),
          ceil(length(col("text")) / 4.0).cast("long").as("n_tok_est"))
        .orderBy("doc_id")
    },

    // Per-source KL divergence from the corpus token distribution — the
    // information-theoretic "how unusual is this source" diagnostic. Each
    // token's contribution (p·ln(p/q)) is quantized to integer 1e-9 units
    // before the per-source sum, so the aggregation is exact (same playbook
    // as the LM scores). Two aggregates + one join on token; all
    // distributions derive from exact integer counts.
    QueryDef("q92_source_kl",
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS token FROM documents),
        |src AS (SELECT source, token, count(*) AS c FROM tok GROUP BY source, token),
        |srctot AS (SELECT source, count(*) AS st FROM tok GROUP BY source),
        |corp AS (SELECT token, count(*) AS g FROM tok GROUP BY token),
        |tot AS (SELECT count(*) AS n FROM tok),
        |terms AS (
        |  SELECT src.source,
        |         CAST(round((src.c / (1.0 * srctot.st))
        |           * ln((src.c * (1.0 * tot.n)) / ((1.0 * srctot.st) * corp.g))
        |           * 1000000000, 0) AS BIGINT) AS kl_e9
        |  FROM src JOIN srctot USING (source) JOIN corp USING (token) CROSS JOIN tot)
        |SELECT source, count(*) AS n_distinct_tokens,
        |       round(CAST(sum(kl_e9) AS DOUBLE) / 1000000000, 6) AS kl
        |FROM terms GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ", -1)).as("token"))
        .persist()
      val src = tok.groupBy("source", "token").agg(count(lit(1)).as("c"))
      val srctot = tok.groupBy("source").agg(count(lit(1)).as("st"))
      val corp = tok.groupBy("token").agg(count(lit(1)).as("g"))
      val tot = broadcast(tok.agg(count(lit(1)).as("n")))
      src.join(srctot, "source").join(corp, "token").crossJoin(tot)
        .select(col("source"),
          round((col("c") / (lit(1.0) * col("st")))
            * log((col("c") * (lit(1.0) * col("n"))) / ((lit(1.0) * col("st")) * col("g")))
            * 1000000000, 0).cast("long").as("kl_e9"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_distinct_tokens"),
          round(sum("kl_e9").cast("double") / 1000000000, 6).as("kl"))
        .orderBy("source")
    },

    // Custom Generator (UDTF): shingle_explode fans each document out to
    // one row per 3-gram shingle, hashing inside the same kernel pass —
    // no intermediate hash array per document (functions/GeneratorExprs).
    QueryDef("q91_shingle_explode",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents WHERE doc_id < 50),
         |s AS (SELECT doc_id, ${MinHash.shingleHashesSql("toks")} AS sh FROM t),
         |i AS (SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS i FROM s)
         |SELECT doc_id, CAST(i - 1 AS INT) AS pos, sh[i] AS shingle
         |FROM i ORDER BY doc_id, pos""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.GraftColumnBridge
      import graft.functions.ShingleExplodeExpr
      val gen = GraftColumnBridge.column(ShingleExplodeExpr(
        GraftColumnBridge.expression(split(col("text"), " ", -1))))
      Tables.documents(s, d).where(col("doc_id") < 50)
        .select(col("doc_id"), gen.as(Seq("pos", "shingle")))
        .orderBy("doc_id", "pos")
    },

    // Unigram LM scoring: per-doc mean token log-probability under the
    // corpus unigram distribution — the classic statistical quality signal
    // (low score = unusual token mix). Log-probs are quantized to integer
    // 1e-6 units BEFORE summing, so the aggregation is exact integer
    // arithmetic — engine addition order can't perturb the result (the same
    // trick as the cents sums). Two hash aggregates + one broadcast-scale
    // join of the token-frequency relation.
    QueryDef("q80_unigram_lm",
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |total AS (SELECT count(*) AS n FROM tok),
        |scored AS (
        |  SELECT tok.doc_id,
        |         CAST(round(ln(freq.c / (1.0 * total.n)) * 1000000, 0) AS BIGINT)
        |           AS lp_e6
        |  FROM tok JOIN freq USING (token) CROSS JOIN total)
        |SELECT doc_id, count(*) AS n_tokens,
        |       CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6,
        |       round(CAST(sum(lp_e6) AS DOUBLE) / count(*) / 1000000, 6)
        |         AS mean_logprob
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      // consumed by freq, total AND the scoring join — persist to scan once
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
        .persist()
      val freq = tok.groupBy("token").agg(count(lit(1)).as("c"))
      val total = broadcast(tok.agg(count(lit(1)).as("n")))
      tok.join(freq, "token").crossJoin(total)
        .select(col("doc_id"),
          round(log(col("c") / (lit(1.0) * col("n"))) * 1000000, 0)
            .cast("long").as("lp_e6"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum("lp_e6").as("sum_lp_e6"),
          round(sum("lp_e6").cast("double") / count(lit(1)) / 1000000, 6)
            .as("mean_logprob"))
        .orderBy("doc_id")
    },

    // Bigram conditional LM: mean log P(tᵢ | tᵢ₋₁) per doc, bigram counts
    // over the corpus — the order-sensitive upgrade of q80's unigram score.
    // Bigrams come from index-exploded token arrays (docs with ≥2 tokens;
    // both engines enumerate i = 1..len-1 ascending), probabilities from a
    // (prev,cur)-count ⋈ prev-count join, and the per-doc sum is exact
    // integer 1e-6 log units like q80.
    QueryDef("q82_bigram_lm",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |idx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
        |b AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur FROM idx),
        |c2 AS (SELECT prev, cur, count(*) AS n2 FROM b GROUP BY prev, cur),
        |c1 AS (SELECT prev, count(*) AS n1 FROM b GROUP BY prev),
        |scored AS (
        |  SELECT b.doc_id,
        |         CAST(round(ln(c2.n2 / (1.0 * c1.n1)) * 1000000, 0) AS BIGINT)
        |           AS lp_e6
        |  FROM b JOIN c2 USING (prev, cur) JOIN c1 USING (prev))
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6,
        |       round(CAST(sum(lp_e6) AS DOUBLE) / count(*) / 1000000, 6)
        |         AS mean_logprob
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
        .where(size(col("toks")) >= 2)
      // consumed by c2, c1 and the scoring join — persist to derive once
      val b = t
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
        .select(col("doc_id"), element_at(col("toks"), col("i")).as("prev"),
          element_at(col("toks"), col("i") + 1).as("cur"))
        .persist()
      val c2 = b.groupBy("prev", "cur").agg(count(lit(1)).as("n2"))
      val c1 = b.groupBy("prev").agg(count(lit(1)).as("n1"))
      b.join(c2, Seq("prev", "cur")).join(c1, Seq("prev"))
        .select(col("doc_id"),
          round(log(col("n2") / (lit(1.0) * col("n1"))) * 1000000, 0)
            .cast("long").as("lp_e6"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("lp_e6").as("sum_lp_e6"),
          round(sum("lp_e6").cast("double") / count(lit(1)) / 1000000, 6)
            .as("mean_logprob"))
        .orderBy("doc_id")
    },

    // Interpolated Kneser-Ney bigram LM — q82's MLE estimate upgraded to
    // the smoothing real LM-quality filters use (Kneser & Ney 1995; the
    // SRILM formulation): discount D=0.75 off every seen bigram, redistribute
    // the held-out mass through the CONTINUATION unigram (how many distinct
    // left-contexts a word follows — "Francisco" is frequent but only ever
    // follows "San", so its continuation prob is tiny):
    //   P(cur|prev) = (c(prev,cur) − D)/c(prev·)
    //               + (D·N1+(prev·)/c(prev·)) · (N1+(·cur)/T).
    // Every ingredient is an exact integer count; both engines evaluate the
    // identical double expression shape (DECIMAL-trap: the SQL casts 0.75 to
    // DOUBLE explicitly) and quantize each bigram's log-prob to integer 1e-6
    // units before the per-doc sum. Scale shape: three count aggregates +
    // broadcast-able type total; the per-occurrence joins are the same
    // (prev[,cur])-keyed exchanges q82 pays — no new shuffle class.
    QueryDef("q177_kneser_ney",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |idx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
        |b AS (SELECT doc_id, toks[i] AS prev, toks[i + 1] AS cur FROM idx),
        |c2 AS (SELECT prev, cur, count(*) AS n2 FROM b GROUP BY prev, cur),
        |c1 AS (SELECT prev, count(*) AS n1 FROM b GROUP BY prev),
        |np AS (SELECT prev, count(DISTINCT cur) AS nprev FROM b GROUP BY prev),
        |nc AS (SELECT cur, count(DISTINCT prev) AS ncont FROM b GROUP BY cur),
        |tt AS (SELECT count(*) AS t FROM c2),
        |scored AS (
        |  SELECT b.doc_id,
        |         CAST(round(ln(
        |           (CAST(c2.n2 AS DOUBLE) - CAST(0.75 AS DOUBLE))
        |             / CAST(c1.n1 AS DOUBLE)
        |           + (CAST(0.75 AS DOUBLE) * CAST(np.nprev AS DOUBLE)
        |              / CAST(c1.n1 AS DOUBLE))
        |             * (CAST(nc.ncont AS DOUBLE) / CAST(tt.t AS DOUBLE))
        |         ) * 1000000, 0) AS BIGINT) AS lp_e6
        |  FROM b JOIN c2 USING (prev, cur) JOIN c1 USING (prev)
        |         JOIN np USING (prev) JOIN nc USING (cur) CROSS JOIN tt)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       CAST(sum(lp_e6) AS BIGINT) AS sum_lp_e6,
        |       round(CAST(sum(lp_e6) AS DOUBLE) / count(*) / 1000000, 6)
        |         AS mean_logprob
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
        .where(size(col("toks")) >= 2)
      val b = t
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
        .select(col("doc_id"), element_at(col("toks"), col("i")).as("prev"),
          element_at(col("toks"), col("i") + 1).as("cur"))
        .persist() // feeds four count aggregates + the scoring join
      val c2 = b.groupBy("prev", "cur").agg(count(lit(1)).as("n2"))
      val c1 = b.groupBy("prev").agg(count(lit(1)).as("n1"))
      val np = b.groupBy("prev").agg(countDistinct("cur").as("nprev"))
      val nc = b.groupBy("cur").agg(countDistinct("prev").as("ncont"))
      val tt = c2.agg(count(lit(1)).as("t"))
      val d075 = lit(0.75d)
      b.join(c2, Seq("prev", "cur")).join(c1, Seq("prev"))
        .join(np, Seq("prev")).join(nc, Seq("cur"))
        .crossJoin(broadcast(tt))
        .select(col("doc_id"),
          round(log(
            (col("n2").cast("double") - d075) / col("n1").cast("double")
              + (d075 * col("nprev").cast("double") / col("n1").cast("double"))
              * (col("ncont").cast("double") / col("t").cast("double"))
          ) * 1000000, 0).cast("long").as("lp_e6"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum("lp_e6").as("sum_lp_e6"),
          round(sum("lp_e6").cast("double") / count(lit(1)) / 1000000, 6)
            .as("mean_logprob"))
        .orderBy("doc_id")
    },

    // Global top-k heavy hitters: the 20 highest-document-frequency tokens.
    // orderBy+limit plans as TakeOrderedAndProject — each partition keeps a
    // k-sized heap and only k·partitions rows reach the driver-side merge,
    // never a global sort (PlanSpec-asserted).
    QueryDef("q79_top_tokens",
      """WITH tok AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |df AS (SELECT token, count(*) AS df FROM tok GROUP BY token)
        |SELECT token, df FROM df ORDER BY df DESC, token LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
        .distinct()
        .groupBy("token").agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("token"))
        .limit(20)
    },

    // Text cleaning / PII scrubbing: the regexp_replace normalization pass a
    // training-data pipeline runs before dedup — mask email-shaped and
    // url-shaped spans, collapse repeated spaces; report the size delta.
    // Narrow per-row expressions; at 100 TB this is scan-parallel and fuses
    // into the same stage as tokenization.
    QueryDef("q74_text_clean",
      """WITH c AS (
        |  SELECT doc_id,
        |         regexp_replace(regexp_replace(regexp_replace(text,
        |           '[A-Za-z0-9.]+@[A-Za-z0-9.]+', '[EMAIL]', 'g'),
        |           'https?://[^ ]+', '[URL]', 'g'),
        |           '  +', ' ', 'g') AS cleaned
        |  FROM documents)
        |SELECT doc_id, length(cleaned) AS n_chars_clean,
        |       CAST(length(cleaned) - length(regexp_replace(cleaned,
        |         '\[EMAIL\]|\[URL\]', '', 'g')) AS BIGINT) AS masked_chars
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val cleaned = regexp_replace(regexp_replace(regexp_replace(col("text"),
        lit("[A-Za-z0-9.]+@[A-Za-z0-9.]+"), lit("[EMAIL]")),
        lit("https?://[^ ]+"), lit("[URL]")),
        lit("  +"), lit(" "))
      Tables.documents(s, d)
        .select(col("doc_id"), cleaned.as("cleaned"))
        .select(col("doc_id"),
          length(col("cleaned")).cast("long").as("n_chars_clean"),
          (length(col("cleaned")) - length(regexp_replace(col("cleaned"),
            lit("\\[EMAIL\\]|\\[URL\\]"), lit("")))).cast("long").as("masked_chars"))
        .orderBy("doc_id")
    },

    // Document fingerprint: order-sensitive polynomial rolling hash over the
    // token stream (SURVEY north-star "document fingerprinting").
    QueryDef("q32_fingerprint",
      s"""SELECT doc_id,
         |       ${Hashes.tokenRollingHashSql("string_split(text, ' ')")} AS fp
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Hashes.tokenRollingHash(split(col("text"), " ", -1)).as("fp"))
        .orderBy("doc_id")
    },

    // Quality scoring: stopword ratio, mean token length, uppercase ratio —
    // length/punct/stopword heuristics of a pretraining quality filter.
    QueryDef("q33_quality_score",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents)
        |SELECT doc_id,
        |       round(CAST(len(list_filter(toks,
        |           x -> x IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE)
        |         / len(toks), 6) AS stopword_ratio,
        |       round(CAST(length(text) - len(toks) + 1 AS DOUBLE) / len(toks), 6)
        |         AS mean_token_len,
        |       len(toks) AS n_tokens
        |FROM t ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ", -1)
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"), col("text"))
        .select(col("doc_id"),
          round(size(filter(col("toks"),
              x => x.isin("the", "a", "of", "and", "to"))).cast("double")
            / size(col("toks")), 6).as("stopword_ratio"),
          round((length(col("text")) - size(col("toks")) + 1).cast("double")
            / size(col("toks")), 6).as("mean_token_len"),
          size(col("toks")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },

    // Language-ID: n-gram/stopword-marker heuristic — score each language by
    // marker-token hits, argmax with a deterministic tie-break (lexicographic
    // language order). Confusion counts against the labeled `lang` column.
    QueryDef("q34_langid", LangIdSql.sql) { (s, d) =>
      val toks = split(col("text"), " ", -1)
      val langs = langMarkers.keys.toSeq.sorted
      val scores = langs.map { lang =>
        size(filter(toks, x => x.isin(langMarkers(lang): _*))).as(s"score_$lang")
      }
      val scored = Tables.documents(s, d)
        .select(col("doc_id") +: col("lang") +: scores: _*)
        .withColumn("mx", greatest(langs.map(l => col(s"score_$l")): _*))
      // first-match CASE = earliest language (lexicographic) wins ties
      val predicted = langs.tail.foldLeft(
        when(col(s"score_${langs.head}") === col("mx"), langs.head)) { (acc, l) =>
        acc.when(col(s"score_$l") === col("mx"), l)
      }
      scored.select(col("lang"), predicted.as("pred_lang"))
        .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred_lang")
    },

    // Per-source corpus stats: docs, distinct languages, total tokens.
    QueryDef("q35_source_stats",
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT lang) AS n_langs,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("lang").as("n_langs"),
          sum(size(split(col("text"), " ", -1)).cast("long")).as("total_tokens"))
        .orderBy("source")
    },

    // Train/test contamination detection: for every held-out document
    // (doc_id % 5 = 0), how many of its distinct 3-gram shingles also appear
    // anywhere in the training corpus — the standard pre-training leakage
    // check. Candidate generation is a shingle-hash equi-join (the LSH-family
    // shape: distinct-project both sides, join on the 64-bit shingle hash,
    // groupBy), never a doc×doc comparison — the 100 TB-safe plan.
    QueryDef("q101_contamination",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, unnest(${graft.operators.MinHash.shingleHashesSql("toks")}) AS sh
         |      FROM t),
         |test AS (SELECT DISTINCT doc_id, sh FROM s WHERE doc_id % 5 = 0),
         |train AS (SELECT DISTINCT sh FROM s WHERE doc_id % 5 <> 0),
         |tot AS (SELECT doc_id, count(*) AS n_shingles FROM test GROUP BY doc_id),
         |hit AS (SELECT test.doc_id, count(*) AS n_hit
         |        FROM test JOIN train USING (sh) GROUP BY test.doc_id)
         |SELECT doc_id, n_shingles, CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit
         |FROM tot LEFT JOIN hit USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.GraftColumnBridge
      import graft.functions.ShingleExplodeExpr
      val gen = GraftColumnBridge.column(ShingleExplodeExpr(
        GraftColumnBridge.expression(split(col("text"), " ", -1))))
      val sh = Tables.documents(s, d)
        .select(col("doc_id"), gen.as(Seq("pos", "sh")))
        .select(col("doc_id"), col("sh"))
      val test = sh.where(col("doc_id") % 5 === 0).distinct()
      val train = sh.where(col("doc_id") % 5 =!= 0).select("sh").distinct()
      val tot = test.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      val hit = test.join(train, "sh")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      tot.join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"))
        .orderBy("doc_id")
    },

    // Data-mixture sampling: per-source quotas proportional to sqrt(size)
    // (temperature-style source rebalancing — upweights small sources
    // relative to proportional sampling), filled by deterministic
    // hash-ranked selection within each source. sqrt is IEEE-exact in both
    // engines and the rank key is pure integer hash arithmetic, so the
    // selected set — not just its size — is cross-engine identical. Shape:
    // one tiny quota aggregate broadcast back, one per-source window.
    // Dataset datasheet — the one-row corpus summary a dataset card states
    // (Gebru et al.'s "Datasheets for Datasets", the numbers section):
    // volume, source/language breadth, token mass, exact-duplicate rate and
    // density figures, all from ONE aggregate pass over the corpus (plus
    // the distinct-text census inside the same aggregate). Exact integers
    // and integer ppm/centitoken units throughout — a datasheet that can be
    // hash-verified is a datasheet two engines can agree on. At 100 TB this
    // is the cheapest useful corpus report: one scan, one row out.
    QueryDef("q206_datasheet",
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       CAST(count(DISTINCT text) AS BIGINT) AS distinct_texts,
        |       CAST((count(*) - count(DISTINCT text)) * 1000000 // count(*)
        |            AS BIGINT) AS exact_dup_ppm,
        |       CAST(sum(len(string_split(text, ' '))) * 100 // count(*)
        |            AS BIGINT) AS avg_tokens_x100
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("source"), col("lang"), col("n_chars"), col("text"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"),
          countDistinct("lang").as("n_langs"),
          sum("n_chars").as("total_chars"),
          sum("n_tok").as("total_tokens"),
          countDistinct("text").as("distinct_texts"))
        .select(col("n_docs"), col("n_sources"), col("n_langs"),
          col("total_chars"), col("total_tokens"), col("distinct_texts"),
          expr("(n_docs - distinct_texts) * 1000000 div n_docs")
            .as("exact_dup_ppm"),
          expr("total_tokens * 100 div n_docs").as("avg_tokens_x100"))
    },

    // Sampling-bias audit by chi-square — "is my sample representative?":
    // the goodness-of-fit statistic between the 10% hash sample's source
    // distribution and the full corpus's, Σ (obs − exp)²/exp. Counts are
    // exact integers (the sample is the deterministic q17 hash draw, so
    // BOTH engines draw the identical sample — the statistic audits the
    // draw itself, not randomness); expected counts and the chi² terms are
    // one stated double expression rounded(6). `biased` compares against
    // the k−1 = 19 d.o.f. critical value at α = 0.05 (30.144, a literal on
    // both engines). Two census aggregates — the audit costs a group-count.
    QueryDef("q223_sample_bias",
      s"""WITH pop AS (SELECT source, CAST(count(*) AS BIGINT) AS np
         |            FROM documents GROUP BY source),
         |samp AS (SELECT source, CAST(count(*) AS BIGINT) AS ns
         |         FROM documents
         |         WHERE ${Split.sampleSql("doc_id", 31, 10)}
         |         GROUP BY source),
         |t AS (SELECT CAST(sum(np) AS BIGINT) AS tp FROM pop),
         |ts AS (SELECT CAST(sum(ns) AS BIGINT) AS tsamp FROM samp),
         |terms AS (
         |  SELECT pop.source,
         |         round((coalesce(samp.ns, 0) - CAST(tsamp AS DOUBLE) * np / tp)
         |               * (coalesce(samp.ns, 0) - CAST(tsamp AS DOUBLE) * np / tp)
         |               / (CAST(tsamp AS DOUBLE) * np / tp), 6) AS term
         |  FROM pop LEFT JOIN samp USING (source), t, ts),
         |chi AS (SELECT round(sum(term), 6) AS chi2,
         |               CAST(count(*) - 1 AS BIGINT) AS df FROM terms)
         |SELECT t.tp AS n_pop, ts.tsamp AS n_sample, chi.chi2, chi.df,
         |       chi.chi2 > 30.144 AS biased
         |FROM chi, t, ts""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val pop = docs.groupBy("source").agg(count(lit(1)).as("np"))
      val samp = Split.sample(docs, col("doc_id"), 31, 10)
        .groupBy("source").agg(count(lit(1)).as("ns"))
      val t = pop.agg(sum("np").as("tp"))
      val ts = samp.agg(sum("ns").as("tsamp"))
      val exp = col("tsamp").cast("double") * col("np") / col("tp")
      val dev = coalesce(col("ns"), lit(0L)) - exp
      val terms = pop.join(samp, Seq("source"), "left")
        .crossJoin(broadcast(t)).crossJoin(broadcast(ts))
        .select(round(dev * dev / exp, 6).as("term"))
      val chi = terms.agg(round(sum("term"), 6).as("chi2"),
        (count(lit(1)) - 1).as("df"))
      chi.crossJoin(broadcast(t)).crossJoin(broadcast(ts))
        .select(col("tp").as("n_pop"), col("tsamp").as("n_sample"),
          col("chi2"), col("df"), (col("chi2") > 30.144).as("biased"))
    },

    // k-anonymity suppression audit — the privacy gate run before a corpus
    // leaves the curation pipeline: every quasi-identifier cell (lang ×
    // source here) carrying fewer than k=5 documents is re-identification
    // risk and gets flagged for suppression, with the global damage (risky
    // cells, suppressed docs) carried on every row. One census aggregate +
    // a 1-row broadcast — the audit costs a group-count at any scale. The
    // flags are exact integer comparisons, so both engines agree cell for
    // cell.
    QueryDef("q212_k_anonymity",
      """WITH c AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS risky_cells,
        |             CAST(coalesce(sum(CASE WHEN n < 5 THEN n END), 0)
        |                  AS BIGINT) AS suppressed_docs
        |      FROM c WHERE n < 5)
        |SELECT lang, source, n, n < 5 AS suppress,
        |       t.risky_cells, t.suppressed_docs
        |FROM c, t ORDER BY lang, source""".stripMargin) { (s, d) =>
      val c = Tables.documents(s, d)
        .groupBy("lang", "source").agg(count(lit(1)).as("n"))
      val t = c.where(col("n") < 5)
        .agg(count(lit(1)).as("risky_cells"),
          coalesce(sum("n"), lit(0L)).as("suppressed_docs"))
      c.crossJoin(broadcast(t))
        .select(col("lang"), col("source"), col("n"),
          (col("n") < 5).as("suppress"),
          col("risky_cells"), col("suppressed_docs"))
        .orderBy("lang", "source")
    },

    // Exact-total quota allocation by largest remainder (Hamilton's
    // method): q105's rounded quotas can drift from the target total (each
    // round() errs independently — a 20-source mix can land at 198 or 203
    // of a 200-doc budget); here base_i = ⌊N·n_i/total⌋ underallocates by
    // construction, and the leftover seats go to the largest fractional
    // remainders (ties → source name). PURE INTEGER arithmetic end to end —
    // div/mod of exact counts, no float share in sight — so the allocation
    // is bit-identical on any engine and sums to EXACTLY N, which is the
    // property a token-budgeted training mix actually needs. Shape: one
    // k-row source census + a k-row window — free at any corpus scale.
    QueryDef("q199_quota_allocation",
      """WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM s),
        |b AS (SELECT source, n, (200 * n) // total AS base,
        |             (200 * n) % total AS rem
        |      FROM s, t),
        |l AS (SELECT CAST(200 - sum(base) AS BIGINT) AS leftover FROM b),
        |r AS (SELECT source, n, base, rem,
        |             row_number() OVER (ORDER BY rem DESC, source) AS rk
        |      FROM b)
        |SELECT source, n, CAST(base AS BIGINT) AS base,
        |       CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        |         AS extra,
        |       CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |            AS BIGINT) AS quota,
        |       (SELECT CAST(sum(base + CASE WHEN r2.rk <= leftover THEN 1
        |                                    ELSE 0 END) AS BIGINT)
        |        FROM r r2) = 200 AS total_exact
        |FROM r, l ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val src = Tables.documents(s, d)
        .groupBy("source").agg(count(lit(1)).as("n"))
      val tot = src.agg(sum("n").as("total"))
      val b = src.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          expr("(200 * n) div total").as("base"),
          expr("(200 * n) % total").as("rem"))
      val lo = b.agg((lit(200L) - sum("base")).as("leftover"))
      val r = b.withColumn("rk",
        row_number().over(Window.orderBy(col("rem").desc, col("source"))))
      val alloc = r.crossJoin(broadcast(lo))
        .select(col("source"), col("n"), col("base"),
          when(col("rk") <= col("leftover"), 1L).otherwise(0L).as("extra"))
        .withColumn("quota", col("base") + col("extra"))
      val chk = alloc.agg((sum("quota") === 200L).as("total_exact"))
      alloc.crossJoin(broadcast(chk))
        .select(col("source"), col("n"), col("base"), col("extra"),
          col("quota"), col("total_exact"))
        .orderBy("source")
    },

    QueryDef("q105_data_mixture",
      """WITH s AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |q AS (SELECT source,
        |             CAST(round(200 * sqrt(n) / (SELECT sum(sqrt(n)) FROM s), 0)
        |                  AS BIGINT) AS quota
        |      FROM s),
        |r AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tok,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) AS rk
        |      FROM documents)
        |SELECT source, quota, count(*) AS n_selected,
        |       CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM r JOIN q USING (source) WHERE rk <= quota
        |GROUP BY source, quota ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val src = docs.groupBy("source").agg(count(lit(1)).as("n"))
      val tot = src.agg(sum(sqrt(col("n"))).as("t"))
      val quotas = src.crossJoin(broadcast(tot))
        .select(col("source"),
          round(lit(200) * sqrt(col("n")) / col("t"), 0).cast("long").as("quota"))
      val w = Window.partitionBy("source")
        .orderBy((col("doc_id") * lit(2654435761L)) % lit(1000000007L), col("doc_id"))
      docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
        .withColumn("rk", row_number().over(w))
        .join(quotas, "source")
        .where(col("rk") <= col("quota"))
        .groupBy("source", "quota")
        .agg(count(lit(1)).as("n_selected"), sum("n_tok").as("tokens"))
        .orderBy("source")
    },

    // Token-budget sequence packing: greedy in-order packing of documents
    // into 512-token training batches, per source shard — a doc belongs to
    // the bucket its cumulative start offset falls in. The running sum is
    // windowed PER SOURCE (never an unpartitioned window over raw docs), so
    // the plan keeps one exchange on source and scales with shard count.
    QueryDef("q102_pack_sequences",
      """WITH t AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t)
        |SELECT source, (cum - n_tok) // 512 AS bucket,
        |       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS tokens
        |FROM c GROUP BY source, bucket
        |ORDER BY source, bucket""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
        .withColumn("cum", sum("n_tok").over(w))
        // nonneg offsets: Spark `div` (truncate) == DuckDB `//` (floor)
        .select(col("source"), expr("(cum - n_tok) div 512").as("bucket"),
          col("n_tok"))
        .groupBy("source", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
        .orderBy("source", "bucket")
    },

    // Packing-utilization report — the efficiency accounting on top of
    // q102's packing: per source shard, how many 512-token batches the
    // greedy in-order pack produced and how full they are. `util_ppm` is
    // tokens over batch-start capacity (docs STRADDLE batch boundaries in
    // this packing — a shard can exceed 1e6 ppm when its last document
    // spills past the final boundary; that asymmetry is exactly what the
    // report surfaces when comparing packers). Same per-source windows and
    // exact integers as q102.
    QueryDef("q225_packing_report",
      """WITH t AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT doc_id, source, n_tok,
        |             CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM t),
        |b AS (SELECT source, (cum - n_tok) // 512 AS bucket, n_tok FROM c),
        |s AS (SELECT source, CAST(max(bucket) + 1 AS BIGINT) AS n_batches,
        |             CAST(sum(n_tok) AS BIGINT) AS tokens
        |      FROM b GROUP BY source)
        |SELECT source, n_batches, tokens,
        |       CAST(n_batches * 512 AS BIGINT) AS capacity,
        |       CAST(tokens * 1000000 // (n_batches * 512) AS BIGINT)
        |         AS util_ppm
        |FROM s ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
        .withColumn("cum", sum("n_tok").over(w))
        .select(col("source"), expr("(cum - n_tok) div 512").as("bucket"),
          col("n_tok"))
        .groupBy("source")
        .agg((max("bucket") + 1).as("n_batches"), sum("n_tok").as("tokens"))
        .select(col("source"), col("n_batches"), col("tokens"),
          (col("n_batches") * 512).as("capacity"),
          expr("tokens * 1000000 div (n_batches * 512)").as("util_ppm"))
        .orderBy("source")
    },

    // Okapi BM25 top-10 retrieval (operators/Bm25) for three literal
    // queries. Per-term scores quantize to integer 1e-6 units before the
    // per-(query, doc) sum; ranks compare the exact integer totals with a
    // doc_id tie-break. The corpus token stream is semi-joined to the
    // broadcast query-term set BEFORE any shuffle — only hit rows aggregate.
    QueryDef("q121_bm25",
      """WITH q(qid, term) AS (VALUES (1, 'hash'), (1, 'join'), (2, 'window'),
        |  (2, 'agg'), (3, 'spark'), (3, 'stream')),
        |bl AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |              CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
        |       FROM documents),
        |stats AS (SELECT count(*) AS n_docs,
        |                 CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM bl),
        |tok AS (SELECT doc_id, dl, unnest(toks) AS term FROM bl),
        |hits AS (SELECT doc_id, dl, term FROM tok
        |         WHERE term IN (SELECT DISTINCT term FROM q)),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
        |              max(dl) AS dl FROM hits GROUP BY doc_id, term),
        |df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
        |sc AS (SELECT doc_id, term,
        |         CAST(round(
        |           ln((CAST(s.n_docs - df.df AS DOUBLE) + 0.5)
        |              / (CAST(df.df AS DOUBLE) + 0.5) + 1.0)
        |           * (CAST(tf.tf AS DOUBLE) * 2.2)
        |           / (CAST(tf.tf AS DOUBLE)
        |              + 1.2 * (0.25 + (0.75 * CAST(tf.dl AS DOUBLE)) / s.avgdl))
        |           * 1000000, 0) AS BIGINT) AS s_e6
        |       FROM tf JOIN df USING (term) CROSS JOIN stats s),
        |ag AS (SELECT q.qid, sc.doc_id, CAST(sum(s_e6) AS BIGINT) AS sum_e6
        |       FROM sc JOIN q ON sc.term = q.term GROUP BY q.qid, sc.doc_id),
        |rk AS (SELECT qid, doc_id, sum_e6,
        |              row_number() OVER (PARTITION BY qid
        |                ORDER BY sum_e6 DESC, doc_id) AS rank FROM ag)
        |SELECT CAST(qid AS BIGINT) AS qid, CAST(rank AS BIGINT) AS rank, doc_id,
        |       round(CAST(sum_e6 AS DOUBLE) / 1000000, 6) AS score
        |FROM rk WHERE rank <= 10 ORDER BY qid, rank""".stripMargin) { (s, d) =>
      import s.implicits._
      val queries = Seq((1L, "hash"), (1L, "join"), (2L, "window"),
        (2L, "agg"), (3L, "spark"), (3L, "stream")).toDF("qid", "term")
      graft.operators.Bm25.topK(Tables.documents(s, d), col("doc_id"),
          split(col("text"), " ", -1), queries, k = 10)
        .orderBy("qid", "rank")
    },

    // BPE merge LEARNING (operators/BpeLearn) — q71 tokenizes with a fixed
    // vocab; this learns one: 3 rounds of (integer pair count over the
    // distinct-word relation → total-order argmax → left-to-right
    // non-overlapping merge everywhere). The oracle unrolls all 3 rounds as
    // CTEs with the IDENTICAL carry-fold (the q103/q65 iterative-fit move
    // applied to pair statistics); each emitted row also carries the
    // post-merge corpus symbol count, so a single mis-applied merge
    // anywhere in the corpus flips the hash, not just a wrong pick.
    QueryDef("q132_bpe_learn", BpeLearnSql.sql) { (s, d) =>
      import graft.operators.BpeLearn
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
      val ms = BpeLearn.fit(words, "w", "freq", rounds = 3)
      import s.implicits._
      ms.map(m => (m.rank, m.lhs, m.rhs, m.pairCount, m.corpusTokensAfter))
        .toDF("rank", "lhs", "rhs", "pair_count", "corpus_tokens_after")
        .orderBy("rank")
    },

    // The learn→apply closure: q132's 3 learned merges re-tokenize the
    // CORPUS (BpeLearn.encodeWords) — fit on the word-frequency relation,
    // encode the vocabulary once, then the token stream joins its word to
    // the (word → encoded length) relation on the uniform word key; the
    // carry-fold never runs per occurrence. Output is each doc's word and
    // encoded-symbol counts — wrong merge ranks, a fold drift, or one
    // mis-encoded word occurrence anywhere flips some doc's integer. The
    // oracle unrolls learning (q132's CTEs, word carried through) and
    // replays the same join+sum.
    QueryDef("q137_bpe_apply", BpeLearnSql.applySql) { (s, d) =>
      import graft.operators.BpeLearn
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("w"))
        .groupBy("w").agg(count(lit(1)).as("freq"))
        .persist() // feeds 3 fit rounds and the encode pass
      val ms = BpeLearn.fit(words, "w", "freq", rounds = 3)
      val wordLen = BpeLearn.encodeWords(words, "w", ms)
        .select(col("w"), size(col("sym")).cast("long").as("n_sym"))
      Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("w"))
        .join(wordLen, "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_sym"))
        .orderBy("doc_id")
    },

    // Blocklist / keyword tagging: one Aho–Corasick pass per document counts
    // ALL patterns at once (functions/MultiMatch — the automaton ships
    // plan-embedded, no join, no shuffle until the K-row aggregate), vs the
    // oracle's K-scan cross join. The pattern list mixes single words,
    // phrases, and a nested pair ("spark" inside "stream spark") so the
    // dictionary-suffix chain is exercised; every pattern is borderless
    // (asserted), so overlapping (automaton) and non-overlapping (replace
    // trick) counts coincide and the hashes must match.
    QueryDef("q149_blocklist_tag", BlocklistSql.sql) { (s, d) =>
      import graft.functions.MultiMatch
      val ps = BlocklistSql.patterns
      require(ps.forall(!MultiMatch.hasBorder(_)),
        "q149 contract requires borderless patterns")
      Tables.documents(s, d)
        .select(posexplode(MultiMatch.multi_count(col("text"), ps))
          .as(Seq("idx", "n")))
        .select(element_at(typedLit(ps), col("idx") + 1).as("keyword"), col("n"))
        .groupBy("keyword")
        .agg(count(when(col("n") > 0, 1)).as("n_docs"), sum("n").as("n_hits"))
        .orderBy("keyword")
    },

    // Pointwise mutual information over adjacent-token pairs — the classic
    // collocation detector (Church & Hanks 1990): PMI(x,y) = ln(c_xy·N /
    // (c_x·c_y)) over bigram events, with a minimum-count floor so rare
    // coincidences don't dominate (the standard failure mode of raw PMI).
    // q82/q177 model P(cur|prev) for scoring; PMI ranks the PAIRS — the
    // phrase-mining step that feeds tokenizer vocabularies and stopword
    // diagnostics. Count aggregates are exact integers on q82's exchanges
    // (bigram relation persisted once, three groupBys); the single float is
    // one ln() of an integer ratio, rounded(6) before the global top-20
    // TakeOrderedAndProject (ties broken by the pair itself). The marginals
    // are POSITIONAL (left-slot, right-slot counts), stated identically in
    // the oracle.
    QueryDef("q196_pmi",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 2),
        |idx AS (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t),
        |b AS (SELECT toks[i] AS x, toks[i + 1] AS y FROM idx),
        |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS nxy
        |        FROM b GROUP BY x, y),
        |cx AS (SELECT x, CAST(count(*) AS BIGINT) AS nx FROM b GROUP BY x),
        |cy AS (SELECT y, CAST(count(*) AS BIGINT) AS ny FROM b GROUP BY y),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM b),
        |p AS (SELECT x, y, nxy,
        |        round(ln(CAST(nxy AS DOUBLE) * nb
        |                 / (CAST(nx AS DOUBLE) * ny)), 6) AS pmi
        |      FROM cxy JOIN cx USING (x) JOIN cy USING (y), n
        |      WHERE nxy >= 5)
        |SELECT x, y, nxy, pmi FROM p
        |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
        .where(size(col("toks")) >= 2)
      val b = t
        .select(explode(sequence(lit(1), size(col("toks")) - 1)).as("i"),
          col("toks"))
        .select(element_at(col("toks"), col("i")).as("x"),
          element_at(col("toks"), col("i") + 1).as("y"))
        .persist() // feeds the pair counts, both marginals, and the total
      val cxy = b.groupBy("x", "y").agg(count(lit(1)).as("nxy"))
      val cx = b.groupBy("x").agg(count(lit(1)).as("nx"))
      val cy = b.groupBy("y").agg(count(lit(1)).as("ny"))
      val n = b.agg(count(lit(1)).as("nb"))
      cxy.where(col("nxy") >= 5)
        .join(cx, Seq("x")).join(cy, Seq("y"))
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("nxy"),
          round(log(col("nxy").cast("double") * col("nb")
            / (col("nx").cast("double") * col("ny"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("x"), col("y"))
        .limit(20)
        .select(col("x"), col("y"), col("nxy"), col("pmi"))
    },

    // Cascade quality filtering — the production cost structure: a CHEAP
    // row-local rule auto-keeps (≥40 tokens) and auto-drops (<20) the easy
    // mass, and the EXPENSIVE model (q80's unigram-LM scoring join) runs
    // ONLY on the borderline band — here ~1/3 of the corpus, at web scale
    // the difference between scoring everything with a model and scoring
    // 3% of it. The borderline verdict is relative (q126's pattern): keep
    // at-or-above the band's lower-median LM score, the median taken as an
    // exact rank statistic with doc_id ties. Everything is exact integers;
    // the per-source report shows each stage's selectivity — the number a
    // pipeline owner actually budgets by. Scale: the rule is row-local;
    // the LM join's probe side is the borderline slice only; the median is
    // a 1-row broadcast.
    QueryDef("q246_cascade_filter",
      """WITH t AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS nt FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |        FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |total AS (SELECT count(*) AS n FROM tok),
        |bl AS (SELECT doc_id, source FROM t WHERE nt >= 20 AND nt < 40),
        |sc AS (SELECT bl.doc_id, bl.source,
        |         CAST(sum(CAST(round(ln(freq.c / (1.0 * total.n)) * 1000000, 0)
        |           AS BIGINT)) // count(*) AS BIGINT) AS score
        |       FROM bl JOIN tok USING (doc_id)
        |            JOIN freq USING (token) CROSS JOIN total
        |       GROUP BY bl.doc_id, bl.source),
        |med AS (SELECT score AS m FROM (
        |          SELECT score, row_number() OVER (ORDER BY score, doc_id)
        |                   AS rn, count(*) OVER () AS cnt
        |          FROM sc) x WHERE rn = (cnt + 1) // 2),
        |verd AS (SELECT sc.source, sc.score >= med.m AS keep
        |         FROM sc CROSS JOIN med)
        |SELECT t.source,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(CASE WHEN nt >= 40 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS auto_keep,
        |       CAST(sum(CASE WHEN nt < 20 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS auto_drop,
        |       CAST(sum(CASE WHEN nt >= 20 AND nt < 40 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_borderline,
        |       CAST(coalesce(v.bk, 0) AS BIGINT) AS borderline_kept,
        |       CAST((sum(CASE WHEN nt >= 40 THEN 1 ELSE 0 END)
        |             + coalesce(v.bk, 0)) * 1000000 // count(*) AS BIGINT)
        |         AS kept_ppm
        |FROM t LEFT JOIN (SELECT source, sum(CASE WHEN keep THEN 1 ELSE 0 END)
        |                    AS bk FROM verd GROUP BY source) v
        |  ON v.source = t.source
        |GROUP BY t.source, v.bk ORDER BY t.source""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).as("nt"))
        .persist() // feeds the band census and the borderline slice
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
        .persist() // model build + borderline scoring probe
      val freq = tok.groupBy("token").agg(count(lit(1)).as("c"))
      val total = broadcast(tok.agg(count(lit(1)).as("n")))
      val bl = t.where(col("nt") >= 20 && col("nt") < 40)
        .select("doc_id", "source")
      val sc = bl.join(tok, "doc_id").join(freq, "token").crossJoin(total)
        .groupBy("doc_id", "source")
        .agg(expr("sum(CAST(round(ln(c / (1.0 * n)) * 1000000, 0) AS LONG))" +
          " div count(*)").as("score"))
        .persist() // median + verdicts
      // exact median of the borderline slice — borderline docs grow with
      // the corpus, so the rank runs as the two-stage zip and the count
      // comes from the census the zip already pays (round 13); the rank
      // target (cnt+1) div 2 is the same 1-based median, stated 0-based
      val nBl = sc.count()
      val med = graft.operators.GlobalRank.zipWithRank(
          sc.select("score", "doc_id"),
          Seq(col("score"), col("doc_id")), idName = "rk")
        .where(col("rk") === lit((nBl + 1L) / 2L - 1L))
        .select(col("score").as("m"))
      val verd = sc.crossJoin(broadcast(med))
        .groupBy(col("source").as("vsrc"))
        .agg(sum(when(col("score") >= col("m"), 1L).otherwise(0L)).as("bk"))
      t.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("nt") >= 40, 1L).otherwise(0L)).as("auto_keep"),
          sum(when(col("nt") < 20, 1L).otherwise(0L)).as("auto_drop"),
          sum(when(col("nt") >= 20 && col("nt") < 40, 1L).otherwise(0L))
            .as("n_borderline"))
        .join(verd, col("source") === col("vsrc"), "left")
        .select(col("source"), col("n_docs"), col("auto_keep"),
          col("auto_drop"), col("n_borderline"),
          coalesce(col("bk"), lit(0L)).as("borderline_kept"),
          expr("(auto_keep + coalesce(bk, 0)) * 1000000 div n_docs")
            .as("kept_ppm"))
        .orderBy("source")
    },

    // Length-bucketed batching — the training-efficiency audit: a padded
    // batch costs B × max_len token cells, so RANDOM batching pays for the
    // longest straggler in every batch while LENGTH-SORTED batching packs
    // near-equal rows together. Both strategies are evaluated in ONE query
    // over the same corpus — rank by salted hash vs rank by (length, id),
    // batch = rank div 32, waste = padded cells − real cells in exact
    // integers. The ranks come from GlobalRank.zipWithRank (q116/q139's
    // two-stage range partition + zip), so no unbounded window anywhere.
    // This is the measurement behind every bucketed-batching dataloader
    // decision; on the fixtures sorted batching cuts padding waste by ~10×.
    // Quantile normalization — the batch-effect corrector (the genomics
    // staple, applied to curation: per-source length distributions made
    // comparable before length-based filters): each document's length is
    // replaced by the GLOBAL distribution's value at the equivalent
    // relative rank, all in exact rank arithmetic — rank within source
    // (value, id ties), mapped global rank (rk·n_global)//n_source, one
    // equi-join back to the globally ranked values. No floats anywhere.
    // Scale note: both windows here are GlobalRank's territory at corpus
    // size (partition-less rank is the documented anti-pattern — q258's
    // zipWithRank is the drop-in); at the k-row fixture the plain window
    // states the semantics.
    QueryDef("q278_quantile_norm",
      """WITH v AS (SELECT doc_id, source, n_chars FROM documents),
        |sr AS (SELECT doc_id, source, n_chars,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars, doc_id) AS rk,
        |         count(*) OVER (PARTITION BY source) AS ns
        |       FROM v),
        |gr AS (SELECT n_chars AS gv,
        |         row_number() OVER (ORDER BY n_chars, doc_id) AS grk
        |       FROM v),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS ng FROM v),
        |mapd AS (SELECT sr.doc_id, sr.source, sr.n_chars, sr.rk,
        |           (sr.rk * t.ng) // sr.ns AS g
        |         FROM sr, t)
        |SELECT m.doc_id, m.source, m.n_chars,
        |       CAST(m.rk AS BIGINT) AS rank_in_source,
        |       CAST(g.gv AS BIGINT) AS norm_chars
        |FROM mapd m JOIN gr g ON g.grk = m.g
        |ORDER BY m.doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val v = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("n_chars")).persist() // both rank scans
      val sw = Window.partitionBy("source").orderBy("n_chars", "doc_id")
      val sr = v.select(col("doc_id"), col("source"), col("n_chars"),
        row_number().over(sw).as("rk"),
        count(lit(1)).over(Window.partitionBy("source")).as("ns"))
      // global rank over the doc-scale relation via the two-stage zip
      // (round 13 — the in-code scale note below is now enforced by
      // PlanSpec's partition-less-window sweep)
      val gr = graft.operators.GlobalRank.zipWithRank(
          v.select(col("n_chars"), col("doc_id")),
          Seq(col("n_chars"), col("doc_id")), idName = "grk0")
        .select(col("n_chars").as("gv"), (col("grk0") + 1).as("grk"))
      val t = v.agg(count(lit(1)).as("ng"))
      sr.crossJoin(broadcast(t))
        .select(col("doc_id"), col("source"), col("n_chars"), col("rk"),
          expr("(rk * ng) div ns").as("g"))
        .join(gr, col("grk") === col("g"))
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("rk").cast("long").as("rank_in_source"),
          col("gv").cast("long").as("norm_chars"))
        .orderBy("doc_id")
    },

    // Subword segmentation by Viterbi DP — the tokenizer-side op BPE-apply
    // (q137) doesn't cover: given a SCORED piece vocabulary, find each
    // word's best segmentation (the SentencePiece/unigram-LM decode step,
    // Kudo 2018). Vocabulary = 2-4-char grams shared by ≥2 distinct
    // corpus words, scored by that document-frequency; any single char is
    // always a fallback piece at score 1, so every word segments. The DP
    // maximizes total score with ties to fewer pieces — both packed into
    // one integer (64·Σscores − pieces; words cap at 18 chars so the
    // piece count never aliases the score). Spark side: the vocab is a
    // collected broadcast statistic and functions/TextHashExprs
    // .ViterbiSegExpr runs the whole DP as one codegen'd loop per row;
    // the oracle replays it as a recursive CTE whose frontier carries
    // dp[i−1..i−3] as columns and LEFT-JOINs the vocab per piece length.
    // Output: per word, its count, best score, piece count, and the
    // chars-per-piece compression a tokenizer dashboard tracks.
    QueryDef("q273_viterbi_seg",
      """WITH RECURSIVE toks AS (
        |  SELECT unnest(string_split(text, ' ')) AS word FROM documents),
        |wf AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM toks
        |       WHERE len(word) BETWEEN 4 AND 18 GROUP BY word),
        |pos AS (SELECT word, l, s FROM (SELECT word FROM wf) ww,
        |        (SELECT unnest(range(2, 5)) AS l) ls,
        |        LATERAL (SELECT unnest(range(1, len(word) - l + 2)) AS s) ss),
        |vocab AS MATERIALIZED (
        |  SELECT substr(word, s, l) AS g,
        |         CAST(count(DISTINCT word) AS BIGINT) AS sc
        |  FROM pos GROUP BY 1 HAVING count(DISTINCT word) >= 2),
        |rec(word, i, d0, d1, d2, d3) AS (
        |  SELECT word, 0, CAST(0 AS BIGINT), CAST(NULL AS BIGINT),
        |         CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) FROM wf
        |  UNION ALL
        |  SELECT r.word, r.i + 1,
        |         greatest(r.d0 + 63,
        |           coalesce(r.d1 + 64 * v2.sc - 1, -1),
        |           coalesce(r.d2 + 64 * v3.sc - 1, -1),
        |           coalesce(r.d3 + 64 * v4.sc - 1, -1)),
        |         r.d0, r.d1, r.d2
        |  FROM rec r
        |  LEFT JOIN vocab v2 ON r.i >= 1 AND v2.g = substr(r.word, r.i, 2)
        |  LEFT JOIN vocab v3 ON r.i >= 2 AND v3.g = substr(r.word, r.i - 1, 3)
        |  LEFT JOIN vocab v4 ON r.i >= 3 AND v4.g = substr(r.word, r.i - 2, 4)
        |  WHERE r.i < len(r.word)),
        |fin AS (SELECT word, d0 AS v FROM rec WHERE i = len(word)),
        |o AS (SELECT wf.word, wf.cnt, CAST(len(wf.word) AS BIGINT) AS n_chars,
        |        CAST((f.v + 63) // 64 AS BIGINT) AS seg_score,
        |        CAST(64 * ((f.v + 63) // 64) - f.v AS BIGINT) AS n_pieces
        |      FROM wf JOIN fin f USING (word))
        |SELECT word, cnt, n_chars, seg_score, n_pieces,
        |       CAST(n_chars * 1000000 // n_pieces AS BIGINT)
        |         AS chars_per_piece_ppm
        |FROM o ORDER BY cnt DESC, word""".stripMargin) { (s, d) =>
      import graft.functions.TextHashExprs
      val toks = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("word"))
      val wf = toks.where(length(col("word")).between(4, 18))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .persist() // vocab extraction + the scored output scan it
      val grams = wf.select(col("word"),
          explode(expr("sequence(2, 4)")).as("l"))
        .select(col("word"), col("l"),
          explode(expr("sequence(1, length(word) - l + 1)")).as("p"))
        .select(col("word"), expr("substring(word, p, l)").as("g"))
      val vocab = grams.groupBy("g").agg(countDistinct("word").as("sc"))
        .where(col("sc") >= 2)
      // the vocab is a broadcast STATISTIC (gram → integer score), not
      // data — the same collect class as scaler means or PQ codebooks
      val vmap = new java.util.HashMap[String, java.lang.Long]
      vocab.collect().foreach(r =>
        vmap.put(r.getString(0), java.lang.Long.valueOf(r.getLong(1))))
      wf.select(col("word"), col("cnt"),
          length(col("word")).cast("long").as("n_chars"),
          TextHashExprs.viterbi_seg(col("word"), vmap).as("v"))
        .select(col("word"), col("cnt"), col("n_chars"),
          expr("(v + 63) div 64").as("seg_score"),
          expr("64 * ((v + 63) div 64) - v").as("n_pieces"))
        .select(col("word"), col("cnt"), col("n_chars"), col("seg_score"),
          col("n_pieces"),
          expr("n_chars * 1000000 div n_pieces").as("chars_per_piece_ppm"))
        .orderBy(col("cnt").desc, col("word"))
    },

    QueryDef("q247_length_batching",
      """WITH t AS (SELECT doc_id,
        |             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |           FROM documents),
        |ra AS (SELECT nt, row_number() OVER (
        |         ORDER BY (doc_id * 2654435761) % 1000000007, doc_id) - 1
        |         AS rk FROM t),
        |rb AS (SELECT nt, row_number() OVER (ORDER BY nt, doc_id) - 1
        |         AS rk FROM t),
        |ba AS (SELECT 'random' AS strategy, rk // 32 AS b, nt FROM ra),
        |bb AS (SELECT 'sorted' AS strategy, rk // 32 AS b, nt FROM rb),
        |u AS (SELECT * FROM ba UNION ALL SELECT * FROM bb),
        |g AS (SELECT strategy, b, CAST(count(*) AS BIGINT) AS rows_in,
        |             CAST(max(nt) AS BIGINT) AS mx,
        |             CAST(sum(nt) AS BIGINT) AS real_cells
        |      FROM u GROUP BY strategy, b)
        |SELECT strategy, CAST(count(*) AS BIGINT) AS n_batches,
        |       CAST(sum(real_cells) AS BIGINT) AS token_cells,
        |       CAST(sum(rows_in * mx) AS BIGINT) AS padded_cells,
        |       CAST((sum(rows_in * mx) - sum(real_cells)) * 1000000
        |            // sum(rows_in * mx) AS BIGINT) AS waste_ppm
        |FROM g GROUP BY strategy ORDER BY strategy""".stripMargin) { (s, d) =>
      import graft.operators.GlobalRank
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ", -1)).cast("long").as("nt"))
        .persist() // both rankings scan it
      val ra = GlobalRank.zipWithRank(t,
        Seq((col("doc_id") * lit(2654435761L)) % lit(1000000007L),
          col("doc_id")), idName = "rk")
        .select(lit("random").as("strategy"), expr("rk div 32").as("b"),
          col("nt"))
      val rb = GlobalRank.zipWithRank(t,
        Seq(col("nt"), col("doc_id")), idName = "rk")
        .select(lit("sorted").as("strategy"), expr("rk div 32").as("b"),
          col("nt"))
      ra.unionAll(rb)
        .groupBy("strategy", "b")
        .agg(count(lit(1)).as("rows_in"), max("nt").as("mx"),
          sum("nt").as("real_cells"))
        .groupBy("strategy")
        .agg(count(lit(1)).as("n_batches"),
          sum("real_cells").as("token_cells"),
          sum(col("rows_in") * col("mx")).as("padded_cells"))
        .select(col("strategy"), col("n_batches"), col("token_cells"),
          col("padded_cells"),
          expr("(padded_cells - token_cells) * 1000000 div padded_cells")
            .as("waste_ppm"))
        .orderBy("strategy")
    },

    // Token-budget mixture trimming — q105 allocates DOC quotas, but real
    // pretraining mixtures are cut in TOKENS: each source keeps its
    // hash-ranked documents while the budget lasts. Selection composes the
    // two proven pieces — q105's deterministic hash ranking (content-
    // independent, so the kept set is a uniform sample of the source) and
    // q102's start-offset convention for the cumulative gate (a doc is in
    // iff its tokens START inside the budget — exactly one straddler, so
    // even a source whose first doc exceeds the budget contributes, and
    // utilization lands near 100% instead of undershooting by a doc).
    // One window per source partition, exact integer tokens/ppm — the
    // per-source running sum never leaves its exchange.
    QueryDef("q237_token_budget",
      """WITH r AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tok,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY (doc_id * 2654435761) % 1000000007, doc_id)
        |               AS rk
        |           FROM documents),
        |c AS (SELECT source, n_tok,
        |        CAST(sum(n_tok) OVER (PARTITION BY source ORDER BY rk
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |      FROM r)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS tokens,
        |       CAST(2000 AS BIGINT) AS budget,
        |       CAST(sum(n_tok) * 1000000 // 2000 AS BIGINT)
        |         AS utilization_ppm
        |FROM c WHERE cum - n_tok < 2000
        |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val budget = 2000L
      val rkW = Window.partitionBy("source")
        .orderBy((col("doc_id") * lit(2654435761L)) % lit(1000000007L),
          col("doc_id"))
      val cumW = Window.partitionBy("source").orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(split(col("text"), " ", -1)).cast("long").as("n_tok"))
        .withColumn("rk", row_number().over(rkW))
        .withColumn("cum", sum("n_tok").over(cumW))
        .where(col("cum") - col("n_tok") < budget)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("tokens"))
        .select(col("source"), col("n_docs"), col("tokens"),
          lit(budget).as("budget"),
          expr(s"tokens * 1000000 div $budget").as("utilization_ppm"))
        .orderBy("source")
    },

    // T5-style span corruption — the pretraining-objective data prep step
    // itself: ~20% of token slots are selected by the salted hash (never an
    // RNG, so the MASK PATTERN is part of the contract), consecutive
    // selections merge into spans, each span is replaced by a numbered
    // sentinel in the input and emitted after that sentinel in the target —
    // exactly the (inputs, targets) pair an encoder–decoder trainer
    // consumes. Mechanics: one posexploded token relation; span starts via
    // lag(corrupt), span ids via the lag+cumsum island trick (the q94
    // sessionization pattern applied to token runs); both texts reassemble
    // with an order-pinned aggregation — Spark sorts (pos, piece) structs
    // inside the array (collect_list order is NOT deterministic; array_sort
    // makes it irrelevant), DuckDB uses string_agg(... ORDER BY pos).
    // Scale: everything is keyed by doc_id — explode, two narrow windows,
    // one aggregation; no cross-doc traffic at all.
    QueryDef("q234_span_corruption",
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS toks
         |           FROM documents WHERE doc_id < 100),
         |tk AS (SELECT doc_id, toks, unnest(range(0, len(toks))) AS pos FROM b),
         |f AS (SELECT doc_id, pos, toks[pos + 1] AS tok,
         |        (${Hashes.mulHashSql("doc_id * 4096 + pos", 31)}) % 5 = 0
         |          AS corrupt
         |      FROM tk),
         |g AS (SELECT doc_id, pos, tok, corrupt,
         |        corrupt AND NOT coalesce(lag(corrupt) OVER (
         |          PARTITION BY doc_id ORDER BY pos), FALSE) AS is_start
         |      FROM f),
         |h AS (SELECT doc_id, pos, tok, corrupt, is_start,
         |        sum(CASE WHEN is_start THEN 1 ELSE 0 END) OVER (
         |          PARTITION BY doc_id ORDER BY pos) - 1 AS sid
         |      FROM g)
         |SELECT doc_id,
         |       coalesce(string_agg(
         |         CASE WHEN NOT corrupt THEN tok
         |              WHEN is_start THEN '<X' || CAST(sid AS BIGINT) || '>'
         |         END, ' ' ORDER BY pos), '') AS src_text,
         |       coalesce(string_agg(
         |         CASE WHEN corrupt AND is_start
         |                THEN '<X' || CAST(sid AS BIGINT) || '> ' || tok
         |              WHEN corrupt THEN tok
         |         END, ' ' ORDER BY pos), '') AS tgt_text,
         |       CAST(sum(CASE WHEN is_start THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_spans
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d).where(col("doc_id") < 100)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ", -1)).as(Seq("pos", "tok")))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val h = toks
        .withColumn("corrupt",
          Hashes.mulHash(col("doc_id") * 4096 + col("pos"), 31) % 5 === 0)
        .withColumn("is_start",
          col("corrupt") && !coalesce(lag(col("corrupt"), 1).over(w), lit(false)))
        .withColumn("sid",
          sum(when(col("is_start"), 1L).otherwise(0L)).over(w) - 1)
      val srcPiece = when(!col("corrupt"), col("tok"))
        .when(col("is_start"),
          concat(lit("<X"), col("sid").cast("string"), lit(">")))
      val tgtPiece = when(col("corrupt") && col("is_start"),
          concat(lit("<X"), col("sid").cast("string"), lit("> "), col("tok")))
        .when(col("corrupt"), col("tok"))
      def orderedText(piece: org.apache.spark.sql.Column) =
        array_join(transform(
          array_sort(collect_list(when(piece.isNotNull,
            struct(col("pos"), piece.as("p"))))),
          x => x.getField("p")), " ")
      h.groupBy("doc_id")
        .agg(orderedText(srcPiece).as("src_text"),
          orderedText(tgtPiece).as("tgt_text"),
          sum(when(col("is_start"), 1L).otherwise(0L)).as("n_spans"))
        .orderBy("doc_id")
    },

    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) — the
    // graph-centrality answer to "which words matter in this corpus":
    // adjacent-token pairs (q82's bigram relation) become an undirected
    // word graph, words dictionary-encode by alphabetical rank (a window
    // over the VOCAB census — statistics-sized, the scaler posture), and
    // q81's damped PageRank (2 rounds, contributions quantized to 1e-12
    // integer units so both engines sum exactly) ranks the vocabulary.
    // Stopword-free fixture text makes every token a candidate; real
    // pipelines drop a stoplist first (q149's blocklist machinery).
    // Top-20 by (rank DESC, word) with the oracle replaying the same
    // dictionary, edges, and both PageRank rounds.
    QueryDef("q309_textrank", {
      s"""WITH t AS (
         |  SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |idx AS (SELECT toks, unnest(range(1, len(toks))) AS i FROM t),
         |b AS (SELECT DISTINCT toks[i] AS wa, toks[i + 1] AS wb FROM idx
         |      WHERE toks[i] <> toks[i + 1]),
         |vocab AS (
         |  SELECT word, row_number() OVER (ORDER BY word) AS wid
         |  FROM (SELECT DISTINCT wa AS word FROM b
         |        UNION SELECT DISTINCT wb FROM b)),
         |e AS (
         |  SELECT DISTINCT va.wid AS src, vb.wid AS dst
         |  FROM b JOIN vocab va ON va.word = b.wa
         |         JOIN vocab vb ON vb.word = b.wb
         |  UNION
         |  SELECT DISTINCT vb.wid, va.wid
         |  FROM b JOIN vocab va ON va.word = b.wa
         |         JOIN vocab vb ON vb.word = b.wb),
         |v AS (SELECT wid AS id FROM vocab),
         |nn AS (SELECT count(*) AS n FROM v),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS r FROM v CROSS JOIN nn),
         |${PageRank.unrolledSql(2)(PageRank.uniformRankSql)}
         |SELECT vocab.word, round(r2.r, 6) AS textrank
         |FROM r2 JOIN vocab ON vocab.wid = r2.id
         |ORDER BY textrank DESC, word LIMIT 20""".stripMargin
    }) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(split(col("text"), " ", -1).as("toks"))
        .where(size(col("toks")) >= 2)
      val b = t
        .select(col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
        .select(element_at(col("toks"), col("i")).as("wa"),
          element_at(col("toks"), col("i") + 1).as("wb"))
        .where(col("wa") =!= col("wb"))
        .distinct()
        .persist() // vocab + both encode joins share it
      val vw = org.apache.spark.sql.expressions.Window.orderBy("word")
      val vocab = b.select(col("wa").as("word"))
        .union(b.select(col("wb").as("word"))).distinct()
        .withColumn("wid", row_number().over(vw))
        .persist() // census-sized: the dictionary, encode + decode
      val enc = b
        .join(vocab.select(col("word").as("wa"), col("wid").as("sa")), "wa")
        .join(vocab.select(col("word").as("wb"), col("wid").as("sb")), "wb")
      val e = enc.select(col("sa").as("src"), col("sb").as("dst"))
        .union(enc.select(col("sb").as("src"), col("sa").as("dst")))
        .distinct()
      PageRank.pagerank(e, iters = 2)
        .join(vocab, col("id") === col("wid"))
        .select(col("word"), round(col("r"), 6).as("textrank"))
        .orderBy(col("textrank").desc, col("word"))
        .limit(20)
    },

    // Greedy set cover — the source-selection operator: which sources,
    // picked one at a time, cover the corpus BIGRAM vocabulary fastest
    // (bigrams, not unigrams — the shared token set saturates in one
    // pick; bigram coverage is what discriminates sources)? Five
    // greedy rounds, each ONE aggregation: count every source's
    // still-uncovered tokens (anti-join against the accumulated cover),
    // pick (max gain, ties → smallest source), fold its tokens into the
    // cover. The greedy rule carries the classic (1 − 1/e) guarantee, and
    // each round's state is the covered-token set — vocabulary-sized
    // statistics, never the corpus. The census pick is a 1-row collect
    // (the scaler posture). Rounds that find no remaining gain emit
    // nothing. Oracle replays the identical five picks (MATERIALIZED
    // rounds).
    QueryDef("q316_set_cover", {
      def rnd(k: Int): String = {
        val gainSrc =
          if (k == 1) "st"
          else s"""(SELECT st.source, st.token FROM st
                  | WHERE NOT EXISTS (SELECT 1 FROM cov${k - 1} c
                  |                   WHERE c.token = st.token))""".stripMargin
        val prevCov =
          if (k == 1) "SELECT token FROM cov_empty"
          else s"SELECT token FROM cov${k - 1}"
        s"""g$k AS MATERIALIZED (
           |  SELECT source, CAST(count(*) AS BIGINT) AS gain
           |  FROM $gainSrc u GROUP BY source),
           |p$k AS MATERIALIZED (
           |  SELECT source, gain FROM g$k
           |  ORDER BY gain DESC, source LIMIT 1),
           |cov$k AS MATERIALIZED (
           |  SELECT DISTINCT token FROM (
           |    $prevCov
           |    UNION ALL
           |    SELECT st.token FROM st JOIN p$k USING (source))),
           |r$k AS MATERIALIZED (
           |  SELECT CAST($k AS BIGINT) AS round, source, gain,
           |         (SELECT CAST(count(*) AS BIGINT) FROM cov$k) AS cum_covered
           |  FROM p$k)""".stripMargin
      }
      s"""WITH tt AS MATERIALIZED (
         |  SELECT source, string_split(text, ' ') AS toks FROM documents
         |  WHERE len(string_split(text, ' ')) >= 2),
         |st AS MATERIALIZED (
         |  SELECT DISTINCT source, toks[i] || ' ' || toks[i + 1] AS token
         |  FROM (SELECT source, toks, unnest(range(1, len(toks))) AS i
         |        FROM tt)),
         |cov_empty AS (SELECT CAST(NULL AS VARCHAR) AS token WHERE FALSE),
         |${(1 to 5).map(rnd).mkString(",\n")}
         |SELECT round, source, gain, cum_covered FROM (
         |  SELECT * FROM r1 UNION ALL SELECT * FROM r2
         |  UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
         |  UNION ALL SELECT * FROM r5)
         |ORDER BY round""".stripMargin
    }) { (s, d) =>
      val st = Tables.documents(s, d)
        .select(col("source"), split(col("text"), " ", -1).as("toks"))
        .where(size(col("toks")) >= 2)
        .select(col("source"),
          explode(sequence(lit(1), size(col("toks")) - 1)).as("i"),
          col("toks"))
        .select(col("source"),
          concat(element_at(col("toks"), col("i")), lit(" "),
            element_at(col("toks"), col("i") + 1)).as("token"))
        .distinct()
        .persist() // probed once per greedy round
      var covered = st.select("token").where(lit(false)).localCheckpoint()
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
      for (k <- 1 to 5) {
        val gains = st.join(covered.select(col("token").as("ct")),
            col("token") === col("ct"), "left_anti")
          .groupBy("source").agg(count(lit(1)).as("gain"))
          .orderBy(col("gain").desc, col("source"))
          .limit(1).collect() // 1-row census pick, the scaler posture
        if (gains.nonEmpty) {
          val (src, gain) = (gains(0).getString(0), gains(0).getLong(1))
          // round plans must not nest; the checkpoint job counts `covered`
          val (cov, Seq(n)) = Fixpoint.checkpoint(covered
            .unionByName(st.where(col("source") === src).select("token"))
            .distinct(), count(lit(1)))
          covered = cov
          out += ((k.toLong, src, gain, n))
        }
      }
      s.createDataFrame(out.toSeq)
        .toDF("round", "source", "gain", "cum_covered")
        .orderBy("round")
    },

    // Phrase search over a POSITIONAL inverted index — the IR primitive
    // BM25 (q121) can't answer: "these words, adjacent, in this order".
    // The index is the flat (doc_id, pos, token) relation; a k-token
    // phrase match is a (k−1)-way self-equi-join on (doc_id, pos+offset,
    // token) — every hop an equi-join keyed by token then doc/pos, never
    // a scan of the documents themselves. Target phrases are data-derived
    // (the top-3 corpus trigrams, ties broken lexically), broadcast into
    // the first index probe — the three-row dimension join of phrase
    // serving. Per phrase: matched docs + total occurrences; the census
    // window that ranks trigrams is statistics-sized (distinct trigrams),
    // the q304 posture.
    QueryDef("q320_phrase_search",
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |pos AS (
        |  SELECT doc_id, unnest(range(1, len(toks) + 1)) AS i,
        |         unnest(toks) AS tok FROM t),
        |tri AS (
        |  SELECT toks[i] AS p1, toks[i + 1] AS p2, toks[i + 2] AS p3
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
        |        FROM t)),
        |top AS (
        |  SELECT p1, p2, p3 FROM (
        |    SELECT p1, p2, p3, count(*) AS n FROM tri GROUP BY 1, 2, 3)
        |  ORDER BY n DESC, p1, p2, p3 LIMIT 3),
        |hits AS (
        |  SELECT top.p1 || ' ' || top.p2 || ' ' || top.p3 AS phrase,
        |         a.doc_id
        |  FROM top
        |  JOIN pos a ON a.tok = top.p1
        |  JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        |            AND b.tok = top.p2
        |  JOIN pos c ON c.doc_id = a.doc_id AND c.i = a.i + 2
        |            AND c.tok = top.p3)
        |SELECT phrase, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_occurrences
        |FROM hits GROUP BY phrase ORDER BY phrase""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
        .where(size(col("toks")) >= 3)
      val pos = t
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("i0", "tok")))
        .select(col("doc_id"), (col("i0") + 1).as("i"), col("tok"))
        .persist() // probed three times per phrase hop
      val tri = t
        .select(col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 2)).as("i"))
        .select(element_at(col("toks"), col("i")).as("p1"),
          element_at(col("toks"), col("i") + 1).as("p2"),
          element_at(col("toks"), col("i") + 2).as("p3"))
      val top = tri.groupBy("p1", "p2", "p3").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("p1"), col("p2"), col("p3"))
        .limit(3).select("p1", "p2", "p3")
      val a = pos.withColumnsRenamed(Map("doc_id" -> "da", "i" -> "ia", "tok" -> "ta"))
      val b = pos.withColumnsRenamed(Map("doc_id" -> "db", "i" -> "ib", "tok" -> "tb"))
      val c = pos.withColumnsRenamed(Map("doc_id" -> "dc", "i" -> "ic", "tok" -> "tc"))
      broadcast(top)
        .join(a, col("ta") === col("p1"))
        .join(b, col("db") === col("da") && col("ib") === col("ia") + 1
          && col("tb") === col("p2"))
        .join(c, col("dc") === col("da") && col("ic") === col("ia") + 2
          && col("tc") === col("p3"))
        .select(concat_ws(" ", col("p1"), col("p2"), col("p3")).as("phrase"),
          col("da").as("doc_id"))
        .groupBy("phrase")
        .agg(countDistinct("doc_id").as("n_docs"),
          count(lit(1)).as("n_occurrences"))
        .orderBy("phrase")
    },

    // χ² token–label relevance — the feature-selection screen (the
    // OCFS/chi2 classic) that picks WHICH tokens separate a class before
    // any model trains: per token, the 2×2 document-presence contingency
    // against the en/not-en label, χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)).
    // Every cell is an exact integer census count (distinct doc-token
    // presence, one equi-shuffle + a broadcast 1-row label total); only
    // the final χ² is a double, evaluated in the identical expression
    // shape on identical BIGINTs (q243 posture). Degenerate tokens
    // present in EVERY document carry no signal — stated as χ² = 0 on
    // both engines. Top-20 by the rounded statistic.
    QueryDef("q327_chi2_tokens",
      """WITH lab AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS p FROM lab),
        |pres AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |cell AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS nt,
        |         CAST(sum(y) AS BIGINT) AS a
        |  FROM pres JOIN lab USING (doc_id) GROUP BY token),
        |chi AS (
        |  SELECT token, a, nt - a AS b, tot.p - a AS c,
        |         tot.n - tot.p - (nt - a) AS d, tot.n AS n, nt
        |  FROM cell CROSS JOIN tot)
        |SELECT token, a, b, c, d, chi2_e6 FROM (
        |  SELECT token, a, b, c, d,
        |         CASE WHEN nt = n THEN CAST(0 AS BIGINT)
        |              ELSE CAST(round(CAST(n AS DOUBLE)
        |                * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
        |                * (CAST(a AS DOUBLE) * d - CAST(b AS DOUBLE) * c)
        |                / (CAST(nt AS DOUBLE) * (n - nt)
        |                   * (a + c) * (b + d)) * 1000000, 0) AS BIGINT)
        |         END AS chi2_e6
        |  FROM chi) t
        |ORDER BY chi2_e6 DESC, token LIMIT 20""".stripMargin) { (s, d) =>
      val lab = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .persist() // total census + presence join
      val tot = broadcast(lab.agg(count(lit(1)).as("n"), sum("y").as("p")))
      val pres = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ", -1)).as("token"))
        .distinct()
      val cell = pres.join(lab, "doc_id").groupBy("token")
        .agg(count(lit(1)).as("nt"), sum("y").as("a"))
      val chi = cell.crossJoin(tot)
        .select(col("token"), col("a"), (col("nt") - col("a")).as("b"),
          (col("p") - col("a")).as("c"),
          (col("n") - col("p") - (col("nt") - col("a"))).as("d"),
          col("n"), col("nt"))
      val dev = col("a").cast("double") * col("d") -
        col("b").cast("double") * col("c")
      chi.select(col("token"), col("a"), col("b"), col("c"), col("d"),
          when(col("nt") === col("n"), lit(0L))
            .otherwise(round(col("n").cast("double") * dev * dev
              / (col("nt").cast("double") * (col("n") - col("nt"))
                * (col("a") + col("c")) * (col("b") + col("d")))
              * 1000000, 0).cast("long")).as("chi2_e6"))
        .orderBy(col("chi2_e6").desc, col("token")).limit(20)
    },

    // Zipf-law fit — the corpus sanity check run on every new text source:
    // rank tokens by frequency and regress ln(freq) on ln(rank) over the
    // top 1000; natural text sits near slope −1, and a source that
    // doesn't (template spam, machine noise) fails ingest review. Both
    // logs are taken on exact integer census values and quantized to
    // integer 1e-6 units BEFORE summing (the q80 posture — float sums
    // commute only when the terms are integers), so the OLS moment sums
    // are exact BIGINTs and the slope/intercept/r² are one identical
    // double expression on both engines. The rank window runs over the
    // vocabulary census, never the corpus (q304 posture).
    QueryDef("q328_zipf_fit",
      """WITH census AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY token),
        |ranked AS (
        |  SELECT freq, row_number() OVER (ORDER BY freq DESC, token) AS r
        |  FROM census),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(r AS DOUBLE)) * 1000000, 0) AS BIGINT)
        |           AS x,
        |         CAST(round(ln(CAST(freq AS DOUBLE)) * 1000000, 0) AS BIGINT)
        |           AS y
        |  FROM ranked WHERE r <= 1000),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pts)
        |SELECT n,
        |       CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |         / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |         * 1000000, 0) AS BIGINT) AS slope_e6,
        |       CAST(round((CAST(sy AS DOUBLE)
        |           - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |             * sx) / n, 0) AS BIGINT) AS intercept_e6,
        |       CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |         * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |         / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |            * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
        |         * 1000000, 0) AS BIGINT) AS r2_e6
        |FROM m""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val census = Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("freq"))
      // top-1000 rank axis: TakeOrdered bounds the slice BEFORE the window
      // (q465's shape — the 1000-row single-partition window is then a
      // bounded statistic, not a vocabulary-wide funnel)
      val ranked = census.orderBy(col("freq").desc, col("token")).limit(1000)
        .withColumn("r",
          row_number().over(Window.orderBy(col("freq").desc, col("token"))))
      val pts = ranked
        .select(round(log(col("r").cast("double")) * 1000000, 0)
            .cast("long").as("x"),
          round(log(col("freq").cast("double")) * 1000000, 0)
            .cast("long").as("y"))
      val m = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val sxy = col("n").cast("double") * col("sxy") -
        col("sx").cast("double") * col("sy")
      val sxx = col("n").cast("double") * col("sxx") -
        col("sx").cast("double") * col("sx")
      val syy = col("n").cast("double") * col("syy") -
        col("sy").cast("double") * col("sy")
      m.select(col("n"),
        round(sxy / sxx * 1000000, 0).cast("long").as("slope_e6"),
        round((col("sy").cast("double") - sxy / sxx * col("sx")) / col("n"), 0)
          .cast("long").as("intercept_e6"),
        round(sxy * sxy / (sxx * syy) * 1000000, 0).cast("long").as("r2_e6"))
    },

    // Heaps' law fit — Zipf's (q328) twin on the GROWTH axis: vocabulary
    // size vs cumulative volume, V(T) ≈ K·T^β, the curve that prices "how
    // many new units will the next 10 TB bring" (tokenizer vocab sizing,
    // OOV-rate forecasting, shingle-index capacity). The unit is the
    // token TRIGRAM — the dedup shingle — because this synthetic corpus
    // draws from a 31-word generator vocabulary that saturates in the
    // first documents (measured; a word-level fit has zero variance),
    // while the trigram space (31³) keeps genuinely growing corpus-long.
    // Scale-safe checkpointing: the corpus prefix is bucketed into ≤257
    // doc-id ranges from a 1-row max census — the cumulative window runs
    // over a BOUNDED checkpoint census, never one row per document (a
    // per-doc cumsum would single-partition the corpus at 100 TB).
    // Vocabulary increments come from each trigram's FIRST checkpoint
    // (min doc_id census); the log-log OLS is q328's exact-moment
    // machinery verbatim, with the degenerate-variance guard stated on
    // both engines (Spark ANSI throws on double 0/0 where DuckDB yields
    // NaN — the SKILL.md trap).
    QueryDef("q385_heaps_law",
      """WITH mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mid
        |            FROM documents),
        |w AS (SELECT greatest(1, (mid + 1) // 256) AS wd FROM mx),
        |toks AS (
        |  SELECT doc_id, g AS token FROM (
        |    SELECT doc_id, string_split(text, ' ') AS l FROM documents) b,
        |  LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) ii,
        |  LATERAL (SELECT l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g)
        |    gg
        |  WHERE len(l) >= 3),
        |dt AS (SELECT doc_id // (SELECT wd FROM w) AS ck,
        |         CAST(count(*) AS BIGINT) AS nt
        |       FROM toks GROUP BY 1),
        |ft AS (SELECT token, CAST(min(doc_id) AS BIGINT) AS fd
        |       FROM toks GROUP BY token),
        |nv AS (SELECT fd // (SELECT wd FROM w) AS ck,
        |         CAST(count(*) AS BIGINT) AS nv
        |       FROM ft GROUP BY 1),
        |cum AS (SELECT dt.ck,
        |          CAST(sum(dt.nt) OVER (ORDER BY dt.ck) AS BIGINT) AS ct,
        |          CAST(sum(coalesce(nv.nv, 0)) OVER (ORDER BY dt.ck)
        |            AS BIGINT) AS cv
        |        FROM dt LEFT JOIN nv ON nv.ck = dt.ck),
        |pts AS (
        |  SELECT CAST(round(ln(CAST(ct AS DOUBLE)) * 1000000, 0) AS BIGINT)
        |           AS x,
        |         CAST(round(ln(CAST(cv AS DOUBLE)) * 1000000, 0) AS BIGINT)
        |           AS y
        |  FROM cum WHERE ct >= 100),
        |m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |         CAST(sum(x * y) AS BIGINT) AS sxy,
        |         CAST(sum(x * x) AS BIGINT) AS sxx,
        |         CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM pts),
        |t AS (SELECT CAST(max(ct) AS BIGINT) AS total_tokens,
        |             CAST(max(cv) AS BIGINT) AS vocab FROM cum)
        |SELECT m.n AS n_points, t.total_tokens, t.vocab,
        |       CAST(round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |         / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |         * 1000000, 0) AS BIGINT) AS beta_e6,
        |       CAST(round((CAST(sy AS DOUBLE)
        |           - (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |             / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |             * sx) / n, 0) AS BIGINT) AS intercept_e6,
        |       CASE WHEN CAST(n AS HUGEINT) * syy = CAST(sy AS HUGEINT) * sy
        |                 OR CAST(n AS HUGEINT) * sxx
        |                    = CAST(sx AS HUGEINT) * sx
        |            THEN CAST(NULL AS BIGINT)
        |            ELSE CAST(round(
        |              (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |              * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
        |              / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
        |                 * (CAST(n AS DOUBLE) * syy
        |                    - CAST(sy AS DOUBLE) * sy))
        |              * 1000000, 0) AS BIGINT) END AS r2_e6
        |FROM m, t""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max("doc_id").as("mid"))
        .select(greatest(lit(1L), expr("(mid + 1) div 256")).as("wd"))
      val toks = docs
        .select(col("doc_id"), split(col("text"), " ", -1).as("l"))
        .where(size(col("l")) >= 3)
        .select(col("doc_id"),
          explode(expr("sequence(1, size(l) - 2)")).as("i"), col("l"))
        .select(col("doc_id"),
          expr("concat(element_at(l, i), ' ', element_at(l, i + 1)," +
            " ' ', element_at(l, i + 2))").as("token"))
        .persist() // per-checkpoint counts + first-occurrence census
      val dt = toks.crossJoin(broadcast(mx))
        .groupBy(expr("doc_id div wd").as("ck"))
        .agg(count(lit(1)).as("nt"))
      val nv = toks.groupBy("token").agg(min("doc_id").as("fd"))
        .crossJoin(broadcast(mx))
        .groupBy(expr("fd div wd").as("ck"))
        .agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("ck")
      val cum = dt.join(nv, Seq("ck"), "left")
        .select(col("ck"), sum("nt").over(w).as("ct"),
          sum(coalesce(col("nv"), lit(0L))).over(w).as("cv"))
      val pts = cum.where(col("ct") >= 100)
        .select(round(log(col("ct").cast("double")) * 1000000, 0)
            .cast("long").as("x"),
          round(log(col("cv").cast("double")) * 1000000, 0)
            .cast("long").as("y"))
      val m = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      val t = cum.agg(max("ct").as("total_tokens"), max("cv").as("vocab"))
      val sxy = col("n").cast("double") * col("sxy") -
        col("sx").cast("double") * col("sy")
      val sxx = col("n").cast("double") * col("sxx") -
        col("sx").cast("double") * col("sx")
      val syy = col("n").cast("double") * col("syy") -
        col("sy").cast("double") * col("sy")
      m.crossJoin(broadcast(t))
        .select(col("n").as("n_points"), col("total_tokens"), col("vocab"),
          round(sxy / sxx * 1000000, 0).cast("long").as("beta_e6"),
          round((col("sy").cast("double") - sxy / sxx * col("sx"))
            / col("n"), 0).cast("long").as("intercept_e6"),
          when(expr("cast(n as decimal(38,0)) * syy")
            === expr("cast(sy as decimal(38,0)) * sy")
            || expr("cast(n as decimal(38,0)) * sxx")
            === expr("cast(sx as decimal(38,0)) * sx"),
            lit(null).cast("long"))
            .otherwise(round(sxy * sxy / (sxx * syy) * 1000000, 0)
              .cast("long")).as("r2_e6"))
    },

    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004) —
    // PageRank on the token co-occurrence graph: tokens are vertices,
    // every within-2-positions co-occurrence contributes a (multi-)edge
    // in both directions, and 2 rounds of the engine's own quantized
    // PageRank (operators/PageRank — integer 1e-12 message units, 1e-9
    // rank grid) score centrality. Multiplicity IS the edge weight: the
    // operator's per-edge-row messages make the weighted variant fall
    // out of the multiset edge relation with no extra machinery. Tokens
    // dictionary-encode to dense ids by sorted order (both engines state
    // the same ranking). The top-10 keywords are the graph's hubs — the
    // unsupervised summary a corpus triage pass actually ships.
    QueryDef("q396_textrank", {
      s"""WITH pos AS (
         |  SELECT doc_id, i AS p, l[i] AS tok FROM (
         |    SELECT doc_id, string_split(text, ' ') AS l FROM documents) b,
         |  LATERAL (SELECT unnest(range(1, len(l) + 1)) AS i) ii),
         |dict AS MATERIALIZED (
         |  SELECT tok, row_number() OVER (ORDER BY tok) AS id
         |  FROM (SELECT DISTINCT tok FROM pos) t),
         |co AS (SELECT a.doc_id, a.tok AS ta, b.tok AS tb
         |       FROM pos a JOIN pos b
         |         ON a.doc_id = b.doc_id
         |        AND b.p - a.p IN (1, 2)),
         |e AS MATERIALIZED (
         |  SELECT da.id AS src, db.id AS dst
         |  FROM co JOIN dict da ON da.tok = co.ta
         |  JOIN dict db ON db.tok = co.tb
         |  UNION ALL
         |  SELECT db.id, da.id
         |  FROM co JOIN dict da ON da.tok = co.ta
         |  JOIN dict db ON db.tok = co.tb),
         |v AS (SELECT DISTINCT id FROM
         |        (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT count(*) AS n FROM v),
         |deg AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nn.n AS r
         |       FROM v CROSS JOIN nn),
         |${PageRank.unrolledSql(2)(PageRank.uniformRankSql)}
         |SELECT dict.tok AS token, round(r2.r, 6) AS textrank
         |FROM r2 JOIN dict ON dict.id = r2.id
         |ORDER BY textrank DESC, token LIMIT 10""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pos = Tables.documents(s, d)
        .select(col("doc_id"),
          posexplode(split(col("text"), " ", -1)).as(Seq("p0", "tok")))
        .select(col("doc_id"), (col("p0") + 1).as("p"), col("tok"))
        .persist() // both sides of the co-occurrence join + the dict
      val dict = pos.select("tok").distinct()
        .withColumn("id", row_number().over(Window.orderBy("tok"))
          .cast("long"))
        .persist() // both endpoint encodes + the output decode
      val co = pos.as("a").join(pos.as("b"),
          col("a.doc_id") === col("b.doc_id")
            && (col("b.p") - col("a.p")).isin(1, 2))
        .select(col("a.tok").as("ta"), col("b.tok").as("tb"))
      val enc = co
        .join(broadcast(dict.select(col("tok").as("ta"),
          col("id").as("ia"))), "ta")
        .join(broadcast(dict.select(col("tok").as("tb"),
          col("id").as("ib"))), "tb")
      val e = enc.select(col("ia").as("src"), col("ib").as("dst"))
        .unionAll(enc.select(col("ib"), col("ia")))
      PageRank.pagerank(e, iters = 2)
        .withColumnRenamed("id", "rid")
        .join(broadcast(dict), col("rid") === col("id"))
        .select(col("tok").as("token"), round(col("r"), 6).as("textrank"))
        .orderBy(col("textrank").desc, col("token"))
        .limit(10)
    },

    // Smoothed-unigram negative sampling — word2vec's α=0.75 trick
    // (Mikolov et al. 2013): contrastive negatives drawn ∝ count^0.75,
    // flattening the head so frequent tokens don't drown the table. The
    // distributed shape is the PREFIX-SUM SAMPLING operator: integer
    // weights from the vocab census, a cumulative-offset column over that
    // census (statistics-sized window), then every sample point u ∈ [0,T)
    // resolves to its token by "largest cum_lo ≤ u" — which is exactly a
    // backward AS-OF join, so the lookup runs through the engine's own
    // plans/NativeAsof exec (constant key) against DuckDB's native ASOF
    // JOIN as the oracle. Five deterministic hash draws per document;
    // output compares each token's sampled share against its target
    // weight share.
    QueryDef("q339_negative_sampling", {
      import graft.functions.Hashes
      s"""WITH cnt AS (
         |  SELECT token, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
         |  GROUP BY token),
         |w AS (
         |  SELECT token,
         |         CAST(round(pow(CAST(c AS DOUBLE), CAST(0.75 AS DOUBLE))
         |           * 1000, 0) AS BIGINT) AS wt
         |  FROM cnt),
         |pre AS (
         |  SELECT token, wt,
         |         CAST(coalesce(sum(wt) OVER (ORDER BY token
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |           AS BIGINT) AS cum_lo
         |  FROM w),
         |tot AS (SELECT CAST(sum(wt) AS BIGINT) AS t FROM w),
         |pts AS (
         |  SELECT (${Hashes.mulHashSql("doc_id * 8 + i", 23)}) % tot.t AS u
         |  FROM documents, (SELECT unnest(range(1, 6)) AS i) r
         |  CROSS JOIN tot),
         |m AS (
         |  SELECT pre.token FROM pts ASOF JOIN pre ON pts.u >= pre.cum_lo)
         |SELECT m.token, CAST(count(*) AS BIGINT) AS n_sampled,
         |       pre.wt * 1000000 // tot.t AS target_ppm,
         |       CAST(count(*) AS BIGINT) * 1000000
         |         // (SELECT CAST(count(*) AS BIGINT) FROM pts)
         |         AS sampled_ppm
         |FROM m JOIN pre ON m.token = pre.token CROSS JOIN tot
         |GROUP BY m.token, pre.wt, tot.t
         |ORDER BY m.token""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      import graft.plans.NativeAsof
      import org.apache.spark.sql.expressions.Window
      val cnt = Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      val w = cnt.select(col("token"),
        round(pow(col("c").cast("double"), lit(0.75)) * 1000, 0)
          .cast("long").as("wt"))
        .persist() // prefix census + total + target shares
      // the alias-table CDF is an exclusive prefix over the VOCABULARY
      // census (10⁷–10⁸ types at web scale) — two-pass PrefixSum, not a
      // partition-less window (round 13); oracle unchanged
      val pre = graft.operators.PrefixSum.cumsum(w, Seq(col("token")),
          "wt", inclusive = false, sumName = "cum_lo")
        .select(col("token"), col("wt"), col("cum_lo"))
        .withColumn("k", lit(0L))
      val tot = broadcast(w.agg(sum("wt").as("t")))
      val pts = Tables.documents(s, d).select(col("doc_id"))
        .withColumn("i", explode(sequence(lit(1L), lit(5L))))
        .crossJoin(tot)
        .select((Hashes.mulHash(col("doc_id") * 8 + col("i"), 23)
          % col("t")).as("u"))
        .withColumn("k", lit(0L))
      val m = NativeAsof.joinMulti(pts, pre, Seq("k"), Seq("k"),
        "u", "cum_lo")
      val nPts = broadcast(pts.agg(count(lit(1)).as("np")))
      m.groupBy("token", "wt").agg(count(lit(1)).as("n_sampled"))
        .crossJoin(tot).crossJoin(nPts)
        .select(col("token"), col("n_sampled"),
          expr("wt * 1000000 div t").as("target_ppm"),
          expr("n_sampled * 1000000 div np").as("sampled_ppm"))
        .orderBy("token")
    },

    // CCNet-style perplexity filtering (Wenzek et al. 2020, the quality
    // gate behind CommonCrawl curation): fit the interpolated Kneser-Ney
    // bigram LM (q177's estimator) on a 90% hash-split of the corpus
    // only, then score EVERY document under it — including the held-out
    // 10%, which forces the OOV paths q177 never exercises: unseen
    // bigram with a seen history backs off through the history's escape
    // mass λ(prev)·Pc(cur); an unseen history falls to the smoothed
    // continuation distribution Pc(cur) = (N1+(·cur)+1)/(T+V) alone
    // (add-one over continuation types keeps every score finite).
    // Documents in the bottom perplexity quintile (lowest mean log-prob;
    // ties broken by doc_id) are dropped. Scale shape: the count
    // relations are token-keyed equi-joins (q177's exchanges); the only
    // global step is the quintile rank — at 100 TB that becomes a
    // broadcast approx-quantile threshold, everything else stays linear.
    // Per-bigram log-probs quantized to integer 1e-6 units before any
    // cross-row reduction (determinism playbook).
    QueryDef("q366_perplexity_filter",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |           FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |sp AS (SELECT doc_id,
         |              CASE WHEN ${Hashes.bucketSql("doc_id", 31, 10)} = 0
         |                   THEN 'heldout' ELSE 'train' END AS split
         |       FROM documents),
         |idx AS (SELECT doc_id, source, toks,
         |               unnest(range(1, len(toks))) AS i FROM t),
         |b AS (SELECT doc_id, source, toks[i] AS prev, toks[i + 1] AS cur
         |      FROM idx),
         |tb AS (SELECT b.prev, b.cur FROM b JOIN sp USING (doc_id)
         |       WHERE sp.split = 'train'),
         |c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS n2
         |       FROM tb GROUP BY prev, cur),
         |c1 AS (SELECT prev, CAST(count(*) AS BIGINT) AS n1,
         |              CAST(count(DISTINCT cur) AS BIGINT) AS nprev
         |       FROM tb GROUP BY prev),
         |nc AS (SELECT cur, CAST(count(DISTINCT prev) AS BIGINT) AS ncont
         |       FROM tb GROUP BY cur),
         |tt AS (SELECT CAST(count(*) AS BIGINT) AS bt FROM c2),
         |vv AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM (
         |         SELECT unnest(toks) AS tok FROM t
         |         JOIN sp USING (doc_id) WHERE sp.split = 'train')),
         |scored AS (
         |  SELECT b.doc_id, b.source,
         |         CAST(round(ln(CASE
         |           WHEN c2.n2 IS NOT NULL THEN
         |             (CAST(c2.n2 AS DOUBLE) - CAST(0.75 AS DOUBLE))
         |               / CAST(c1.n1 AS DOUBLE)
         |             + (CAST(0.75 AS DOUBLE) * CAST(c1.nprev AS DOUBLE)
         |                / CAST(c1.n1 AS DOUBLE))
         |               * ((CAST(coalesce(nc.ncont, 0) AS DOUBLE) + 1)
         |                  / (CAST(tt.bt AS DOUBLE) + CAST(vv.v AS DOUBLE)))
         |           WHEN c1.n1 IS NOT NULL THEN
         |             (CAST(0.75 AS DOUBLE) * CAST(c1.nprev AS DOUBLE)
         |              / CAST(c1.n1 AS DOUBLE))
         |               * ((CAST(coalesce(nc.ncont, 0) AS DOUBLE) + 1)
         |                  / (CAST(tt.bt AS DOUBLE) + CAST(vv.v AS DOUBLE)))
         |           ELSE (CAST(coalesce(nc.ncont, 0) AS DOUBLE) + 1)
         |                  / (CAST(tt.bt AS DOUBLE) + CAST(vv.v AS DOUBLE))
         |         END) * 1000000, 0) AS BIGINT) AS lp_e6
         |  FROM b LEFT JOIN c2 ON c2.prev = b.prev AND c2.cur = b.cur
         |         LEFT JOIN c1 ON c1.prev = b.prev
         |         LEFT JOIN nc ON nc.cur = b.cur
         |         CROSS JOIN tt CROSS JOIN vv),
         |perdoc AS (SELECT doc_id, source,
         |                  CAST(sum(lp_e6) AS BIGINT) // count(*) AS mean_e6
         |           FROM scored GROUP BY doc_id, source),
         |ranked AS (SELECT doc_id, source, mean_e6,
         |                  ntile(5) OVER (ORDER BY mean_e6, doc_id) AS q
         |           FROM perdoc)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN q = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_dropped,
         |       CAST(sum(CASE WHEN q > 1 THEN mean_e6 ELSE 0 END) AS BIGINT)
         |         AS kept_mean_sum_e6
         |FROM ranked GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          split(col("text"), " ", -1).as("toks"))
        .where(size(col("toks")) >= 2)
      val sp = Tables.documents(s, d).select(col("doc_id"),
        when(Hashes.bucket(col("doc_id"), 31, 10) === 0, lit("heldout"))
          .otherwise(lit("train")).as("split"))
      val b = t
        .select(col("doc_id"), col("source"), col("toks"),
          explode(sequence(lit(1), size(col("toks")) - 1)).as("i"))
        .select(col("doc_id"), col("source"),
          element_at(col("toks"), col("i")).as("prev"),
          element_at(col("toks"), col("i") + 1).as("cur"))
        .persist() // train counts + the full-corpus scoring join
      val tb = b.join(sp, "doc_id").where(col("split") === "train")
        .select("prev", "cur")
        .persist() // three count aggregates
      val c2 = tb.groupBy("prev", "cur").agg(count(lit(1)).as("n2"))
      val c1 = tb.groupBy("prev").agg(count(lit(1)).as("n1"),
        countDistinct("cur").as("nprev"))
      val nc = tb.groupBy("cur").agg(countDistinct("prev").as("ncont"))
      val tt = c2.agg(count(lit(1)).as("bt"))
      val vv = t.join(sp, "doc_id").where(col("split") === "train")
        .select(explode(col("toks")).as("tok"))
        .agg(countDistinct("tok").as("v"))
      val d075 = lit(0.75d)
      val pc = (coalesce(col("ncont"), lit(0L)).cast("double") + 1) /
        (col("bt").cast("double") + col("v").cast("double"))
      val esc = d075 * col("nprev").cast("double") / col("n1").cast("double")
      val p = when(col("n2").isNotNull,
          (col("n2").cast("double") - d075) / col("n1").cast("double")
            + esc * pc)
        .when(col("n1").isNotNull, esc * pc)
        .otherwise(pc)
      val perdoc = b
        .join(c2, Seq("prev", "cur"), "left")
        .join(c1, Seq("prev"), "left")
        .join(nc, Seq("cur"), "left")
        .crossJoin(broadcast(tt)).crossJoin(broadcast(vv))
        .select(col("doc_id"), col("source"),
          round(log(p) * 1000000, 0).cast("long").as("lp_e6"))
        .groupBy("doc_id", "source")
        .agg(expr("sum(lp_e6) div count(1)").as("mean_e6"))
      // doc-scale quintiles via the two-stage NTILE zip (round 13) — the
      // oracle keeps the plain ntile(5) window: exact same buckets under
      // the (mean_e6, doc_id) total order
      graft.operators.GlobalRank.zipWithNtile(
          perdoc.select(col("doc_id"), col("source"), col("mean_e6")),
          Seq(col("mean_e6"), col("doc_id")), tiles = 5,
          outName = "q")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("q") === 1, 1L).otherwise(0L)).as("n_dropped"),
          sum(when(col("q") > 1, col("mean_e6")).otherwise(0L))
            .as("kept_mean_sum_e6"))
        .orderBy("source")
    },

    // Dunning log-likelihood ratio (G², Dunning 1993) — the keyword-
    // extraction statistic that stays calibrated where q327's χ² breaks:
    // sparse contingency cells (χ² assumes normal approximation of cell
    // counts; G² is the exact likelihood-ratio form 2·Σ O·ln(O/E), the
    // standard for corpus term comparison). Same token × language table
    // as q327 so the two statistics' rankings are directly comparable.
    // Transcendental contract: each cell's O·ln(O/E) is one double chain,
    // the four-term sum e6-quantized once at the end (the q327/q388
    // discipline); zero cells contribute exactly 0 by guard.
    QueryDef("q432_dunning_g2",
      """WITH lab AS (
        |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(sum(y) AS BIGINT) AS p FROM lab),
        |pres AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |cell AS (
        |  SELECT token, CAST(count(*) AS BIGINT) AS nt,
        |         CAST(sum(y) AS BIGINT) AS a
        |  FROM pres JOIN lab USING (doc_id) GROUP BY token),
        |tab AS (
        |  SELECT token, a, nt - a AS b, tot.p - a AS c,
        |         tot.n - tot.p - (nt - a) AS d, tot.n AS n, tot.p AS p, nt
        |  FROM cell CROSS JOIN tot)
        |SELECT token, a, b, c, d,
        |       CAST(round(2000000 * (
        |         CASE WHEN a > 0 THEN CAST(a AS DOUBLE)
        |           * ln(CAST(a AS DOUBLE) * n / (CAST(nt AS DOUBLE) * p))
        |           ELSE 0 END
        |         + CASE WHEN b > 0 THEN CAST(b AS DOUBLE)
        |           * ln(CAST(b AS DOUBLE) * n
        |                / (CAST(nt AS DOUBLE) * (n - p)))
        |           ELSE 0 END
        |         + CASE WHEN c > 0 THEN CAST(c AS DOUBLE)
        |           * ln(CAST(c AS DOUBLE) * n
        |                / (CAST(n - nt AS DOUBLE) * p))
        |           ELSE 0 END
        |         + CASE WHEN d > 0 THEN CAST(d AS DOUBLE)
        |           * ln(CAST(d AS DOUBLE) * n
        |                / (CAST(n - nt AS DOUBLE) * (n - p)))
        |           ELSE 0 END), 0) AS BIGINT) AS g2_e6
        |FROM tab ORDER BY g2_e6 DESC, token LIMIT 20""".stripMargin) { (s, d) =>
      val lab = Tables.documents(s, d)
        .select(col("doc_id"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"))
        .persist() // total census + presence join
      val tot = broadcast(lab.agg(count(lit(1)).as("n"), sum("y").as("p")))
      val pres = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(split(col("text"), " ", -1)).as("token"))
        .distinct()
      val cell = pres.join(lab, "doc_id").groupBy("token")
        .agg(count(lit(1)).as("nt"), sum("y").as("a"))
      cell.crossJoin(tot)
        .select(col("token"), col("a"), (col("nt") - col("a")).as("b"),
          (col("p") - col("a")).as("c"),
          (col("n") - col("p") - (col("nt") - col("a"))).as("d"),
          col("n"), col("p"), col("nt"))
        .withColumn("g2_e6", expr(
          """cast(round(2000000 * (
            |  CASE WHEN a > 0 THEN cast(a as double)
            |    * ln(cast(a as double) * n / (cast(nt as double) * p))
            |    ELSE 0 END
            |  + CASE WHEN b > 0 THEN cast(b as double)
            |    * ln(cast(b as double) * n / (cast(nt as double) * (n - p)))
            |    ELSE 0 END
            |  + CASE WHEN c > 0 THEN cast(c as double)
            |    * ln(cast(c as double) * n / (cast(n - nt as double) * p))
            |    ELSE 0 END
            |  + CASE WHEN d > 0 THEN cast(d as double)
            |    * ln(cast(d as double) * n
            |         / (cast(n - nt as double) * (n - p)))
            |    ELSE 0 END), 0) as bigint)"""
            .stripMargin.replace("\n", " ")))
        .select("token", "a", "b", "c", "d", "g2_e6")
        .orderBy(col("g2_e6").desc, col("token")).limit(20)
    },

    // Per-batch n-gram NOVELTY rate — the dataset-freshness curve a
    // continuously-collected corpus is priced by (q385's Heaps law fits
    // total vocabulary GROWTH; this asks the operational question per
    // arrival batch: what fraction of this batch's trigrams has the
    // corpus never seen?): doc_id order proxies arrival, 10 equal
    // batches, a trigram's first-seen batch comes from one shingle
    // census, novelty_ppm = new / distinct per batch. A collapsing
    // curve says the source is exhausted; a flat one says keep crawling.
    // Scale: one shingle census (the q101/q109 shape), then a ≤10-row
    // rollup.
    QueryDef("q428_trigram_novelty", {
      import graft.operators.MinHash
      s"""WITH t AS (
         |  SELECT doc_id, doc_id * 10 // (SELECT max(doc_id) + 1
         |           FROM documents) AS batch,
         |         unnest(${MinHash.shingleHashesSql(
               "string_split(text, ' ')")}) AS sh
         |  FROM documents),
         |d AS (SELECT DISTINCT batch, sh FROM t),
         |fs AS (SELECT sh, min(batch) AS first_batch FROM d GROUP BY sh),
         |per AS (
         |  SELECT d.batch, CAST(count(*) AS BIGINT) AS n_distinct,
         |         CAST(sum(CASE WHEN fs.first_batch = d.batch
         |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |  FROM d JOIN fs USING (sh) GROUP BY d.batch)
         |SELECT CAST(batch AS BIGINT) AS batch, n_distinct, n_new,
         |       n_new * 1000000 // n_distinct AS novelty_ppm
         |FROM per ORDER BY batch""".stripMargin
    }) { (s, d) =>
      import graft.operators.MinHash
      val maxId = Tables.documents(s, d).agg(max("doc_id"))
        .head().getLong(0) // 1-row census
      val t = Tables.documents(s, d).select(
        expr(s"doc_id * 10 div ${maxId + 1}L").as("batch"),
        explode(MinHash.shingleHashes(split(col("text"), " ", -1)))
          .as("sh"))
      val dd = t.select("batch", "sh").distinct().persist()
      val fs = dd.groupBy("sh").agg(min("batch").as("first_batch"))
      dd.join(fs, "sh")
        .groupBy("batch")
        .agg(count(lit(1)).as("n_distinct"),
          sum(when(col("first_batch") === col("batch"), 1L).otherwise(0L))
            .as("n_new"))
        .select(col("batch"), col("n_distinct"), col("n_new"),
          expr("n_new * 1000000 div n_distinct").as("novelty_ppm"))
        .orderBy("batch")
    },

    // Shared-prefix census — the KV-CACHE SHARING potential of an
    // inference corpus (serving systems dedupe attention state across
    // requests that share a prompt prefix — vLLM-style prefix caching):
    // group documents by their first-4-token prefix; every document
    // beyond the first in a group re-uses a cached prefix, so the
    // avoidable token mass is Σ_g (n_g − 1) · 4. Emits, per source, the
    // group census and the sharing ratio in ppm of total tokens — the
    // number a serving-capacity plan actually needs. One explode-free
    // pass: the prefix key is a bounded slice, the census a groupBy.
    QueryDef("q421_prefix_sharing",
      """WITH t AS (
        |  SELECT doc_id, source,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |         array_to_string(string_split(text, ' ')[1:4], ' ')
        |           AS prefix
        |  FROM documents),
        |g AS (SELECT source, prefix, CAST(count(*) AS BIGINT) AS n_g
        |      FROM t GROUP BY source, prefix),
        |per AS (SELECT source,
        |               CAST(count(*) AS BIGINT) AS n_groups,
        |               CAST(sum(CASE WHEN n_g > 1 THEN n_g ELSE 0 END)
        |                    AS BIGINT) AS n_shared_docs,
        |               CAST(sum((n_g - 1) * 4) AS BIGINT) AS shared_tok
        |        FROM g GROUP BY source),
        |tok AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS total_tok,
        |               CAST(count(*) AS BIGINT) AS n_docs
        |        FROM t GROUP BY source)
        |SELECT tok.source, tok.n_docs, per.n_groups, per.n_shared_docs,
        |       per.shared_tok, tok.total_tok,
        |       per.shared_tok * 1000000 // tok.total_tok AS sharing_ppm
        |FROM per JOIN tok USING (source) ORDER BY source""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tok"),
        concat_ws(" ", slice(split(col("text"), " ", -1), 1, 4))
          .as("prefix"))
        .persist() // group census + token totals
      val g = t.groupBy("source", "prefix").agg(count(lit(1)).as("n_g"))
      val per = g.groupBy("source").agg(
        count(lit(1)).as("n_groups"),
        sum(when(col("n_g") > 1, col("n_g")).otherwise(0L))
          .as("n_shared_docs"),
        sum((col("n_g") - 1) * 4).as("shared_tok"))
      val tok = t.groupBy("source").agg(sum("n_tok").as("total_tok"),
        count(lit(1)).as("n_docs"))
      per.join(tok, "source")
        .select(col("source"), col("n_docs"), col("n_groups"),
          col("n_shared_docs"), col("shared_tok"), col("total_tok"),
          expr("shared_tok * 1000000 div total_tok").as("sharing_ppm"))
        .orderBy("source")
    },

    // Token-hash COLLISION CENSUS — the before/after fidelity audit of the
    // round-10 tokenHash upgrade. Rounds 1–9 fingerprinted a token by
    // (first char, last char, length) only; every near-dup consumer
    // (MinHash bands, SimHash bits, DSIR buckets, DupSpans folds)
    // inherited its structural collisions while staying oracle-green
    // (the oracle mirrored the same weak hash). This query measures the
    // real rate on the corpus vocabulary ∪ the entity-name vocabulary
    // (customer.c_name — "Customer#000000042"-style tokens share first
    // char and length, so the legacy hash collapses ALL of them into ~10
    // cells; measured 1500/1500 collided at sf0.01 vs 0 under the
    // full-content codepoint polynomial now in Hashes.tokenHash).
    // collided_* counts tokens living in a shared hash cell (the
    // candidate-set inflation a near-dup/blocking pass pays).
    // Scale: one vocabulary census + two ≤|vocab|-row groupBys.
    QueryDef("q433_tokenhash_census",
      s"""WITH v AS (
         |  SELECT DISTINCT token FROM (
         |    SELECT unnest(string_split(text, ' ')) AS token FROM documents
         |    UNION ALL
         |    SELECT unnest(string_split(c_name, ' ')) AS token FROM customer)),
         |h AS (
         |  SELECT token,
         |         ${Hashes.tokenHashSql("token")} AS h_new,
         |         ((CAST(ascii(token) AS BIGINT) * 131
         |           + CAST(ascii(substr(token, -1, 1)) AS BIGINT) * 31
         |           + CAST(length(token) AS BIGINT) * 7)
         |          * ${Hashes.Mult}) % ${Hashes.Prime} AS h_old
         |  FROM v WHERE token <> ''),
         |gn AS (SELECT h_new, count(*) AS c FROM h GROUP BY h_new),
         |go AS (SELECT h_old, count(*) AS c FROM h GROUP BY h_old),
         |an AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
         |              CAST(count(*) AS BIGINT) AS n_hashes_new,
         |              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
         |                   AS BIGINT) AS collided_new
         |       FROM gn),
         |ao AS (SELECT CAST(count(*) AS BIGINT) AS n_hashes_old,
         |              CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
         |                   AS BIGINT) AS collided_old
         |       FROM go)
         |SELECT n_tokens, n_hashes_old, collided_old,
         |       n_hashes_new, collided_new
         |FROM an CROSS JOIN ao""".stripMargin) { (s, d) =>
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .unionAll(Tables.customer(s, d)
          .select(explode(split(col("c_name"), " ", -1)).as("token")))
        .where(col("token") =!= "").distinct()
      // the retired round-1..9 fingerprint, kept inline ONLY for this audit
      val oldHash = ((ascii(col("token")).cast("long") * 131L
        + ascii(substring(col("token"), -1, 1)).cast("long") * 31L
        + length(col("token")).cast("long") * 7L) * Hashes.Mult) % Hashes.Prime
      val h = vocab.select(col("token"),
        Hashes.tokenHash(col("token")).as("h_new"), oldHash.as("h_old"))
        .persist() // two census groupBys over one vocabulary pass
      val gn = h.groupBy("h_new").agg(count(lit(1)).as("c"))
      val go = h.groupBy("h_old").agg(count(lit(1)).as("c"))
      val an = gn.agg(sum("c").as("n_tokens"),
        count(lit(1)).as("n_hashes_new"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("collided_new"))
      val ao = go.agg(count(lit(1)).as("n_hashes_old"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("collided_old"))
      an.crossJoin(ao)
        .select("n_tokens", "n_hashes_old", "collided_old",
          "n_hashes_new", "collided_new")
    },

    // Vocabulary RICHNESS estimation — how much vocabulary the corpus has
    // NOT yet shown: Chao1's bias-corrected species-richness estimate
    // (Chao 1984: V + f1(f1−1)/(2(f2+1)) from the singleton/doubleton
    // counts — the f2=0-safe form) and Good–Turing's unseen probability
    // mass p0 = f1/N. The go/no-go numbers before freezing a tokenizer
    // vocab or pricing how much more crawl a domain needs — ALL integer
    // arithmetic from ONE frequency-of-frequencies census (token census →
    // count-of-counts → three scalars), the cheapest diagnostics in the
    // engine.
    QueryDef("q462_vocab_richness",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |tf AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |ff AS (SELECT CAST(count(*) AS BIGINT) AS v,
        |              CAST(sum(c) AS BIGINT) AS n,
        |              CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
        |                AS BIGINT) AS f1,
        |              CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END)
        |                AS BIGINT) AS f2
        |       FROM tf)
        |SELECT n AS n_tokens, v AS vocab_seen, f1, f2,
        |       v + f1 * (f1 - 1) // (2 * (f2 + 1)) AS chao1_est,
        |       f1 * 1000000 // n AS unseen_mass_ppm
        |FROM ff""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
        .agg(count(lit(1)).as("v"), sum("c").as("n"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
          sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
        .select(col("n").as("n_tokens"), col("v").as("vocab_seen"),
          col("f1"), col("f2"),
          expr("v + f1 * (f1 - 1) div (2 * (f2 + 1))").as("chao1_est"),
          expr("f1 * 1000000 div n").as("unseen_mass_ppm"))
    },

    // Distinct-n diversity (Li et al., NAACL 2016) — the generation-
    // diversity metric a synthetic-data pipeline gates on (mode-collapsed
    // generators repeat n-grams; distinct-1/2/3 = unique n-grams / total
    // n-grams crashes when they do), censused per source. N-grams are
    // counted by their rolling fold hash (DupSpans.shingleHashes — the
    // near-dup machinery reused as a counting device): collisions mod
    // 1e9+7 are negligible at this vocabulary and IDENTICAL on both
    // engines, so the census is deterministic. One pass per n, each an
    // explode + distinct-count — the cheapest diversity gate there is.
    QueryDef("q464_distinct_ngrams", {
      def side(n: Int): String =
        s"""g$n AS (SELECT source, u AS h
           |  FROM (SELECT source,
           |          ${graft.operators.DupSpans.shingleHashesSql("toks", n)}
           |            AS sh
           |        FROM t) s$n, unnest(s$n.sh) AS g(u)),
           |a$n AS (SELECT source, CAST(count(*) AS BIGINT) AS n$n,
           |               CAST(count(DISTINCT h) AS BIGINT) AS d$n
           |        FROM g$n GROUP BY source)""".stripMargin
      s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks
         |           FROM documents),
         |${side(1)},
         |${side(2)},
         |${side(3)}
         |SELECT a1.source, n1, d1, d1 * 1000000 // n1 AS distinct1_ppm,
         |       n2, d2, d2 * 1000000 // n2 AS distinct2_ppm,
         |       n3, d3, d3 * 1000000 // n3 AS distinct3_ppm
         |FROM a1 JOIN a2 ON a1.source = a2.source
         |        JOIN a3 ON a1.source = a3.source
         |ORDER BY a1.source""".stripMargin
    }) { (s, d) =>
      import graft.operators.DupSpans
      val t = Tables.documents(s, d)
        .select(col("source"), split(col("text"), " ", -1).as("toks"))
        .persist() // three n-gram passes
      def agg(n: Int) = t
        .select(col("source"),
          explode(DupSpans.shingleHashes(col("toks"), n)).as("h"))
        .groupBy("source")
        .agg(count(lit(1)).as(s"n$n"), countDistinct(col("h")).as(s"d$n"))
      agg(1).join(agg(2), "source").join(agg(3), "source")
        .select(col("source"),
          col("n1"), col("d1"), expr("d1 * 1000000 div n1").as("distinct1_ppm"),
          col("n2"), col("d2"), expr("d2 * 1000000 div n2").as("distinct2_ppm"),
          col("n3"), col("d3"), expr("d3 * 1000000 div n3").as("distinct3_ppm"))
        .orderBy("source")
    },

    // Zipf slope — the corpus-health fit: natural text has token
    // rank-frequency ln(f) ≈ −s·ln(r) + c with s ≈ 1; a synthetic or
    // template-heavy corpus bends away, and the SLOPE is the one-number
    // alarm. OLS over the top-100 ranks: the census is corpus-sized (one
    // exchange), the fit runs on a 100-row statistic (single-partition
    // window is fine at any corpus size — rank axis, not data).
    // ULP-HARDENED (round 12): no libm in the comparison path — ln runs as
    // IntLn's fixed-point integer series, the SAME truncating integer steps
    // on both engines, so the e6 points are bit-identical by construction
    // (the prior e6-quantized ln() could flip on a libm ULP landing on a
    // 5e-7 boundary). OLS moments in decimal(38)/HUGEINT; slope is one
    // integer division (both engines truncate toward zero).
    QueryDef("q465_zipf_slope", {
      import graft.functions.IntLn
      val ptsInner = IntLn.duckNest(
        IntLn.duckNest("SELECT c, rank FROM top", "rank", "r_"), "c", "c_")
      s"""WITH tf AS (SELECT token, CAST(count(*) AS BIGINT) AS c
        |            FROM (SELECT unnest(string_split(text, ' ')) AS token
        |                  FROM documents) GROUP BY token),
        |top AS (SELECT c, row_number() OVER (ORDER BY c DESC, token)
        |          AS rank
        |        FROM tf ORDER BY c DESC, token LIMIT 100),
        |pts AS (SELECT ${IntLn.roundE6("r_", "//")} AS x,
        |               ${IntLn.roundE6("c_", "//")} AS y
        |        FROM ($ptsInner)),
        |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
        |             CAST(sum(x) AS HUGEINT) AS sx,
        |             CAST(sum(y) AS HUGEINT) AS sy,
        |             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
        |             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
        |      FROM pts)
        |SELECT CAST(n AS BIGINT) AS n_points,
        |       CAST((n * sxy - sx * sy) * 1000000
        |            // (n * sxx - sx * sx) AS BIGINT) AS slope_e6
        |FROM m""".stripMargin
    }) { (s, d) =>
      import graft.functions.IntLn
      val tf = Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .groupBy("token").agg(count(lit(1)).as("c"))
      // top-100 rank axis: TakeOrdered + a 100-row single-partition window
      val top = tf.orderBy(col("c").desc, col("token")).limit(100)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("c").desc, col("token"))))
        .withColumn("rank", col("rank").cast("long"))
      IntLn.sparkCols(IntLn.sparkCols(top, "rank", "r_"), "c", "c_")
        .select(expr(IntLn.roundE6("r_", "div")).as("x"),
          expr(IntLn.roundE6("c_", "div")).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x").cast("decimal(38,0)")).as("sx"),
          sum(col("y").cast("decimal(38,0)")).as("sy"),
          sum((col("x").cast("decimal(38,0)") * col("y"))).as("sxy"),
          sum((col("x").cast("decimal(38,0)") * col("x"))).as("sxx"))
        .select(col("n").as("n_points"),
          expr("cast((n * sxy - sx * sy) * 1000000" +
            " div (n * sxx - sx * sx) as bigint)").as("slope_e6"))
    },

    // Token-entropy quality bands — the Gopher-family repetition/noise
    // gate q110's LM score doesn't cover: per-doc Shannon entropy of the
    // token histogram, H = Σ (c/n)·ln(n/c), flags template/repetitive
    // docs (low H — few effective tokens) and shredded/noise docs (high
    // H — every token unique) in one census. ULP-HARDENED (round 12):
    // ln(n/c) runs as IntLn(n) − IntLn(c) in e12 integer fixed point —
    // the same truncating steps on both engines, no libm — quantized
    // ONCE per (doc, token type) at e9; the per-doc sum and n-division
    // are exact integers, and the per-source report (mean, band counts)
    // is integer arithmetic on the per-doc values. Two hash aggregates
    // over one token explode.
    QueryDef("q468_token_entropy", {
      import graft.functions.IntLn
      val lnInner = IntLn.duckNest(IntLn.duckNest(
        """SELECT tf.source, tf.doc_id, tf.c, nd.n
          |       FROM tf JOIN nd ON nd.source = tf.source
          |                      AND nd.doc_id = tf.doc_id""".stripMargin,
        "n", "n_"), "c", "c_")
      s"""WITH tf AS (SELECT source, doc_id, token,
        |              CAST(count(*) AS BIGINT) AS c
        |       FROM (SELECT source, doc_id,
        |               unnest(string_split(text, ' ')) AS token
        |             FROM documents)
        |       GROUP BY source, doc_id, token),
        |nd AS (SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS n
        |       FROM tf GROUP BY source, doc_id),
        |pd AS (SELECT source, doc_id,
        |              CAST(sum(c * ((n_ln_e12 - c_ln_e12 + 500) // 1000))
        |                AS BIGINT) // max(n) AS h_e9
        |       FROM ($lnInner)
        |       GROUP BY source, doc_id)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(sum(h_e9) // count(*) AS BIGINT) AS mean_h_e9,
        |       CAST(sum(CASE WHEN h_e9 < 2000000000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_low,
        |       CAST(sum(CASE WHEN h_e9 > 3400000000 THEN 1 ELSE 0 END)
        |         AS BIGINT) AS n_high
        |FROM pd GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      import graft.functions.IntLn
      val tf = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          explode(split(col("text"), " ", -1)).as("token"))
        .groupBy("source", "doc_id", "token").agg(count(lit(1)).as("c"))
      val nd = tf.groupBy("source", "doc_id").agg(sum("c").as("n"))
      val perDoc = IntLn.sparkCols(IntLn.sparkCols(
          tf.join(nd, Seq("source", "doc_id")), "n", "n_"), "c", "c_")
        .select(col("source"), col("doc_id"), col("n"),
          (col("c") * expr("(n_ln_e12 - c_ln_e12 + 500) div 1000"))
            .as("term"))
        .groupBy("source", "doc_id")
        .agg(expr("sum(term) div max(n)").as("h_e9"))
      perDoc.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(h_e9) div count(1)").as("mean_h_e9"),
          sum(when(col("h_e9") < 2000000000L, 1L).otherwise(0L))
            .as("n_low"),
          sum(when(col("h_e9") > 3400000000L, 1L).otherwise(0L))
            .as("n_high"))
        .orderBy("source")
    },

    // Heaps' law vocabulary-growth fit — the tokenizer-budget companion to
    // q462's Chao1 and q465's Zipf: natural text grows vocabulary as
    // V(n) ≈ K·n^β with β ≈ 0.4–0.6, and the measured exponent answers
    // "how much new vocabulary will the next 10× of crawl bring" before
    // the crawl is paid for. Eight log-spaced prefix checkpoints in doc
    // order (n_k = max(1, N >> (8−k))), V_k = tokens whose FIRST global
    // occurrence lands inside the prefix, OLS of ln V on ln n. Corpus
    // work: one token pass for first-occurrence positions (hash agg) + a
    // doc-count-sized offset cumsum; the fit runs on an 8-row statistic.
    // ln is IntLn end to end — no libm in the comparison path (round 12).
    QueryDef("q473_heaps_law", HeapsSql.sql) { (s, d) =>
      TextQueries.heapsLaw(Tables.documents(s, d))
    },

    // PII detection + redaction census (round 13) — the compliance gate a
    // training pipeline runs before anything ships: per-document counts of
    // emails, NANP-style phone numbers and IPv4 literals, and the length
    // delta of the three-pass redaction (email → phone → ip, global
    // replace in that stated order on BOTH engines). The regexes use ONLY
    // the syntax subset where Java regex (Spark) and RE2 (DuckDB) agree —
    // character classes (no shorthand escapes, `[.]` instead of `\.`),
    // bounded quantifiers, no backrefs/lookaround — so extraction and
    // replacement are bit-identical. The fixture corpus carries no real
    // PII, so deterministic PII is INJECTED identically on both engines
    // (doc_id % 3 ≠ 0 appends an email+phone tail, doc_id % 2 = 1 an IPv4
    // tail) — every detector path runs against nonzero counts while
    // doc_id % 6 = 0 docs pin the zero path. Scale: row-local regex work
    // + one source-keyed aggregate; no joins, no windows.
    QueryDef("q478_pii_scrub", {
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
      val phone = "[+]1-555-[0-9]{1,4}"
      val ip = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      s"""WITH t2 AS (
         |  SELECT source,
         |         text ||
         |         CASE WHEN doc_id % 3 <> 0
         |              THEN ' contact user' || CAST(doc_id AS VARCHAR) ||
         |                   '@example.com or +1-555-' ||
         |                   CAST(doc_id % 10000 AS VARCHAR)
         |              ELSE '' END ||
         |         CASE WHEN doc_id % 2 = 1
         |              THEN ' ip 10.0.' || CAST(doc_id % 256 AS VARCHAR) ||
         |                   '.' || CAST(doc_id % 100 AS VARCHAR)
         |              ELSE '' END AS txt
         |  FROM documents),
         |c AS (
         |  SELECT source,
         |         CAST(len(regexp_extract_all(txt, '$email')) AS BIGINT)
         |           AS ne,
         |         CAST(len(regexp_extract_all(txt, '$phone')) AS BIGINT)
         |           AS np,
         |         CAST(len(regexp_extract_all(txt, '$ip')) AS BIGINT) AS ni,
         |         CAST(length(txt) AS BIGINT)
         |           - CAST(length(regexp_replace(regexp_replace(
         |               regexp_replace(txt, '$email', '<EMAIL>', 'g'),
         |               '$phone', '<PHONE>', 'g'),
         |               '$ip', '<IP>', 'g')) AS BIGINT) AS delta
         |  FROM t2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN ne + np + ni > 0 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS docs_with_pii,
         |       CAST(sum(ne) AS BIGINT) AS total_emails,
         |       CAST(sum(np) AS BIGINT) AS total_phones,
         |       CAST(sum(ni) AS BIGINT) AS total_ips,
         |       CAST(sum(delta) AS BIGINT) AS red_len_delta
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      val email = "[a-z0-9._%+-]+@[a-z0-9.-]+[.][a-z]{2,}"
      val phone = "[+]1-555-[0-9]{1,4}"
      val ip = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
      val t2 = Tables.documents(s, d).select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 3 =!= 0,
            concat(lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com or +1-555-"),
              (col("doc_id") % 10000).cast("string"))).otherwise(lit("")),
          when(col("doc_id") % 2 === 1,
            concat(lit(" ip 10.0."), (col("doc_id") % 256).cast("string"),
              lit("."), (col("doc_id") % 100).cast("string")))
            .otherwise(lit(""))).as("txt"))
      val c = t2.select(col("source"),
        regexp_count(col("txt"), lit(email)).cast("long").as("ne"),
        regexp_count(col("txt"), lit(phone)).cast("long").as("np"),
        regexp_count(col("txt"), lit(ip)).cast("long").as("ni"),
        (length(col("txt")) - length(regexp_replace(regexp_replace(
          regexp_replace(col("txt"), email, "<EMAIL>"),
          phone, "<PHONE>"), ip, "<IP>"))).cast("long").as("delta"))
      c.groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(when(col("ne") + col("np") + col("ni") > 0, 1L).otherwise(0L))
            .as("docs_with_pii"),
          sum("ne").as("total_emails"), sum("np").as("total_phones"),
          sum("ni").as("total_ips"), sum("delta").as("red_len_delta"))
        .orderBy("source")
    },

    // WordPiece-style greedy tokenizer ENCODE (round 13) — the
    // tokenizer-SERVING path next to the BPE fit family: a deterministic
    // vocabulary (every corpus character + the top-200
    // occurrence-weighted substrings of length 2–4, ties by piece) is a
    // k-row broadcast statistic, and each distinct word is segmented by
    // longest-match-first greedy scan (the BERT tokenizer's rule; the
    // character alphabet guarantees coverage, so no UNK path). Greedy
    // longest-match ≡ "max matching piece length at each position", which
    // is how the oracle states it: a precomputed (word, pos) → max-step
    // table, then a recursive walk. Per-source report weights each word
    // type by its occurrence count. Scale: word/substr censuses are hash
    // aggregates; the vocab is k rows collected once; the encode is a
    // row-local map over the word-type census (words ≪ tokens), never the
    // token stream.
    QueryDef("q479_wordpiece_encode",
      """WITH RECURSIVE w0 AS MATERIALIZED (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0 GROUP BY source, w),
        |gw AS MATERIALIZED (
        |  SELECT w, CAST(sum(cnt) AS BIGINT) AS c FROM w0 GROUP BY w),
        |chars AS (SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS p
        |          FROM gw, unnest(range(1, length(w) + 1)) AS u(i)),
        |subs AS (SELECT substr(w, CAST(i AS INTEGER), CAST(L AS INTEGER))
        |                  AS p,
        |                CAST(sum(c) AS BIGINT) AS pc
        |         FROM gw, unnest([2, 3, 4]) AS ls(L),
        |              unnest(range(1, length(w) - L + 2)) AS u(i)
        |         WHERE length(w) >= L
        |         GROUP BY 1),
        |top AS (SELECT p FROM subs ORDER BY pc DESC, p LIMIT 200),
        |vocab AS MATERIALIZED (
        |  SELECT p FROM chars UNION SELECT p FROM top),
        |words AS MATERIALIZED (SELECT DISTINCT w FROM gw),
        |steps AS MATERIALIZED (
        |  SELECT wp.w, wp.pos, CAST(max(length(v.p)) AS BIGINT) AS step
        |  FROM (SELECT w, CAST(pos AS BIGINT) AS pos
        |        FROM words, unnest(range(0, length(w))) AS u(pos)) wp
        |  JOIN vocab v
        |    ON length(v.p) <= length(wp.w) - wp.pos
        |   AND substr(wp.w, CAST(wp.pos + 1 AS INTEGER), length(v.p)) = v.p
        |  GROUP BY 1, 2),
        |rec(w, pos, np) AS (
        |  SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM words
        |  UNION ALL
        |  SELECT r.w, r.pos + s.step, r.np + 1
        |  FROM rec r JOIN steps s ON s.w = r.w AND s.pos = r.pos
        |  WHERE r.pos < length(r.w)),
        |fin AS (SELECT w, np FROM rec WHERE pos = length(w))
        |SELECT w0.source, CAST(count(*) AS BIGINT) AS n_word_types,
        |       CAST(sum(w0.cnt) AS BIGINT) AS n_tokens,
        |       CAST(sum(f.np * w0.cnt) AS BIGINT) AS n_pieces,
        |       CAST(sum(f.np * w0.cnt) * 1000000 // sum(w0.cnt) AS BIGINT)
        |         AS pieces_per_token_e6,
        |       CAST(max(f.np) AS BIGINT) AS max_pieces
        |FROM w0 JOIN fin f ON f.w = w0.w
        |GROUP BY w0.source ORDER BY w0.source""".stripMargin) { (s, d) =>
      import s.implicits._
      val words = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
        .persist() // global census + the encode map share it
      val gw = words.groupBy("w").agg(sum("cnt").as("c"))
        .persist() // alphabet + substring census
      val chars = gw
        .select(explode(sequence(lit(1), length(col("w")))).as("i"), col("w"))
        .select(expr("substring(w, i, 1)").as("p")).distinct()
      val subs = gw
        .select(col("w"), col("c"), explode(sequence(lit(2), lit(4))).as("L"))
        .where(length(col("w")) >= col("L"))
        .select(col("w"), col("c"), col("L"),
          explode(sequence(lit(1), length(col("w")) - col("L") + 1)).as("i"))
        .select(expr("substring(w, i, L)").as("p"), col("c"))
        .groupBy("p").agg(sum("c").as("pc"))
      val top = subs.orderBy(col("pc").desc, col("p")).limit(200).select("p")
      // the fitted vocabulary IS a k-row statistic — collected once,
      // broadcast to the row-local greedy scan (the KMeans/codebook posture)
      val vocabSet = chars.unionByName(top).distinct()
        .as[String].collect().toSet
      val bc = s.sparkContext.broadcast(vocabSet)
      val enc = words.select("source", "w", "cnt").as[(String, String, Long)]
        .map { case (src, w, cnt) =>
          // walk by Unicode CODE POINTS, not UTF-16 code units: the
          // vocabulary was built with Spark SQL substring/length and the
          // oracle uses DuckDB substr/length — both codepoint-semantics —
          // so a surrogate pair must count as ONE position here too
          val cpLen = w.codePointCount(0, w.length)
          var pos = 0 // code-point index
          var cu = 0  // UTF-16 offset of pos
          var np = 0L
          while (pos < cpLen) {
            var l = math.min(4, cpLen - pos)
            while (l > 1 &&
                   !bc.value.contains(
                     w.substring(cu, w.offsetByCodePoints(cu, l))))
              l -= 1
            // l == 1 always matches: the alphabet covers every corpus char
            cu = w.offsetByCodePoints(cu, l)
            pos += l
            np += 1
          }
          (src, cnt, np)
        }.toDF("source", "cnt", "np")
      enc.groupBy("source").agg(
          count(lit(1)).as("n_word_types"),
          sum("cnt").as("n_tokens"),
          sum(col("np") * col("cnt")).as("n_pieces"),
          expr("sum(np * cnt) * 1000000 div sum(cnt)")
            .as("pieces_per_token_e6"),
          max("np").as("max_pieces"))
        .orderBy("source")
    },

    // Quota-exact mixture SAMPLER (round 13) — q199 computes the Hamilton
    // quotas; this MATERIALIZES them: each source contributes exactly its
    // quota of documents, chosen by salted-hash order with doc_id
    // tie-break (deterministic, replayable, and stable under reruns — the
    // split-stability discipline applied to mixture sampling). The rank is
    // a PER-SOURCE window (partitioned — distributes at any scale; the
    // quota bound trims each source to k rows). The report proves the
    // contract: per source, selected == quota and the selected set is
    // pinned by an order-free checksum.
    QueryDef("q480_quota_sample", QuotaSampleSql.sql) { (s, d) =>
      quotaSampleReport(Tables.documents(s, d))
    },

    // UTF-8 validity / mojibake-repair census (round 14) — the ingest gate
    // every web-scale corpus runs before anything else: classify each
    // document's encoding health (clean ASCII, clean multibyte, mojibake
    // digraphs from a UTF-8-bytes-read-as-cp1252 round trip, U+FFFD
    // replacement residue, stray C0 control bytes) and measure what a
    // stated three-pass repair (mojibake digraph fold → strip U+FFFD →
    // strip controls) would change. Regexes live in the Java-regex ∩ RE2
    // syntax subset (q478's discipline: literal codepoints, \xNN ranges,
    // alternation — no lookaround, no \p classes) so extraction, matching
    // and replacement are bit-identical on both engines. The fixture
    // corpus is pure ASCII (asserted by the zero path), so deterministic
    // damage is INJECTED identically on both engines keyed on doc_id % 6:
    // 1 → two classic mojibake digraphs ("Ã©", "â€™"), 2 → a replacement
    // char, 3 → a BEL control byte, 4 → a VALID é (must be counted clean
    // multibyte and survive repair untouched), 0/5 → untouched ASCII.
    // Scale: row-local regex + ONE source-grouped aggregate — no joins, no
    // windows; the repair never materializes, only its length delta does.
    QueryDef("q481_utf8_census", {
      val moji = "Ã[ -¿]|â€™"
      val ctrl = "[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]"
      s"""WITH t2 AS (
         |  SELECT source,
         |         text ||
         |         CASE doc_id % 6
         |           WHEN 1 THEN ' cafÃ© costâ€™s'
         |           WHEN 2 THEN ' bad�byte'
         |           WHEN 3 THEN ' bellring'
         |           WHEN 4 THEN ' café fine'
         |           ELSE '' END AS txt
         |  FROM documents),
         |c AS (
         |  SELECT source,
         |         regexp_matches(txt, '[^\\x01-\\x7f]') AS nonascii,
         |         regexp_matches(txt, '$moji') AS moji,
         |         regexp_matches(txt, '�') AS repl,
         |         regexp_matches(txt, '$ctrl') AS ctl,
         |         CAST(length(txt) AS BIGINT)
         |           - CAST(length(regexp_replace(regexp_replace(
         |               regexp_replace(regexp_replace(
         |                 txt, 'Ã©', 'é', 'g'),
         |                 'â€™', '’', 'g'),
         |               '�', '', 'g'), '$ctrl', '', 'g'))
         |             AS BIGINT) AS delta
         |  FROM t2)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(CASE WHEN NOT nonascii AND NOT ctl
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS clean_ascii,
         |       CAST(sum(CASE WHEN nonascii AND NOT moji AND NOT repl
         |                      AND NOT ctl
         |                     THEN 1 ELSE 0 END) AS BIGINT)
         |         AS clean_multibyte,
         |       CAST(sum(CASE WHEN moji THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_mojibake,
         |       CAST(sum(CASE WHEN repl THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_replacement,
         |       CAST(sum(CASE WHEN ctl THEN 1 ELSE 0 END) AS BIGINT)
         |         AS docs_ctrl,
         |       CAST(sum(delta) AS BIGINT) AS repair_len_delta
         |FROM c GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      val moji = "Ã[ -¿]|â€™"
      val ctrl = "[\\x01-\\x08\\x0b\\x0c\\x0e-\\x1f]"
      val t2 = Tables.documents(s, d).select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 6 === 1,
              lit(" cafÃ© costâ€™s"))
            .when(col("doc_id") % 6 === 2, lit(" bad�byte"))
            .when(col("doc_id") % 6 === 3, lit(" bellring"))
            .when(col("doc_id") % 6 === 4, lit(" café fine"))
            .otherwise(lit(""))).as("txt"))
      val c = t2.select(col("source"),
        col("txt").rlike("[^\\x01-\\x7f]").as("nonascii"),
        col("txt").rlike(moji).as("moji"),
        col("txt").rlike("�").as("repl"),
        col("txt").rlike(ctrl).as("ctl"),
        (length(col("txt")) - length(regexp_replace(regexp_replace(
          regexp_replace(regexp_replace(
            col("txt"), "Ã©", "é"),
            "â€™", "’"),
          "�", ""), ctrl, ""))).cast("long").as("delta"))
      c.groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(when(!col("nonascii") && !col("ctl"), 1L).otherwise(0L))
            .as("clean_ascii"),
          sum(when(col("nonascii") && !col("moji") && !col("repl")
              && !col("ctl"), 1L).otherwise(0L)).as("clean_multibyte"),
          sum(when(col("moji"), 1L).otherwise(0L)).as("docs_mojibake"),
          sum(when(col("repl"), 1L).otherwise(0L)).as("docs_replacement"),
          sum(when(col("ctl"), 1L).otherwise(0L)).as("docs_ctrl"),
          sum("delta").as("repair_len_delta"))
        .orderBy("source")
    },

    // WordPiece CONTINUATION-PREFIX encode (round 14) — the `##` fidelity
    // q479 approximates away: real WordPiece keeps TWO vocabularies, one
    // for word-INITIAL pieces and one for continuation pieces (the ones
    // spelled "##xx"; the prefix is notation — the tables here store the
    // piece text, position decides which table applies). Fit: initial
    // pieces = every word-initial character (coverage at pos 0) + the
    // top-100 occurrence-weighted word-PREFIX substrings of length 2–4;
    // continuation pieces = every interior character + the top-100
    // interior substrings. Encode: greedy longest-match per position,
    // choosing the table by pos == 0 — still ≡ "max matching piece per
    // position", so the oracle keeps q479's (word, pos) → max-step table,
    // just split by position class, and the same recursive walk. The
    // report adds whole_word_ppm (token occurrences encoded as ONE
    // initial piece — the metric a `##` vocabulary actually moves).
    // Scale: q479's exactly — hash-aggregate censuses, two k-row broadcast
    // vocabularies, row-local greedy over the word-TYPE census.
    QueryDef("q482_wordpiece_cont",
      """WITH RECURSIVE w0 AS MATERIALIZED (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  WHERE length(w) > 0 GROUP BY source, w),
        |gw AS MATERIALIZED (
        |  SELECT w, CAST(sum(cnt) AS BIGINT) AS c FROM w0 GROUP BY w),
        |ichars AS (SELECT DISTINCT substr(w, 1, 1) AS p FROM gw),
        |cchars AS (SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS p
        |           FROM gw, unnest(range(2, length(w) + 1)) AS u(i)
        |           WHERE length(w) >= 2),
        |isubs AS (SELECT substr(w, 1, CAST(L AS INTEGER)) AS p,
        |                 CAST(sum(c) AS BIGINT) AS pc
        |          FROM gw, unnest([2, 3, 4]) AS ls(L)
        |          WHERE length(w) >= L GROUP BY 1),
        |itop AS (SELECT p FROM isubs ORDER BY pc DESC, p LIMIT 100),
        |csubs AS (SELECT substr(w, CAST(i AS INTEGER), CAST(L AS INTEGER))
        |                   AS p,
        |                 CAST(sum(c) AS BIGINT) AS pc
        |          FROM gw, unnest([2, 3, 4]) AS ls(L),
        |               unnest(range(2, length(w) - L + 2)) AS u(i)
        |          WHERE length(w) >= L + 1 GROUP BY 1),
        |ctop AS (SELECT p FROM csubs ORDER BY pc DESC, p LIMIT 100),
        |vini AS MATERIALIZED (
        |  SELECT p FROM ichars UNION SELECT p FROM itop),
        |vcon AS MATERIALIZED (
        |  SELECT p FROM cchars UNION SELECT p FROM ctop),
        |words AS MATERIALIZED (SELECT DISTINCT w FROM gw),
        |wp AS MATERIALIZED (
        |  SELECT w, CAST(pos AS BIGINT) AS pos
        |  FROM words, unnest(range(0, length(w))) AS u(pos)),
        |steps AS MATERIALIZED (
        |  SELECT wp.w, wp.pos, CAST(max(length(v.p)) AS BIGINT) AS step
        |  FROM wp JOIN vini v
        |    ON wp.pos = 0 AND length(v.p) <= length(wp.w)
        |   AND substr(wp.w, 1, length(v.p)) = v.p
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT wp.w, wp.pos, CAST(max(length(v.p)) AS BIGINT) AS step
        |  FROM wp JOIN vcon v
        |    ON wp.pos > 0 AND length(v.p) <= length(wp.w) - wp.pos
        |   AND substr(wp.w, CAST(wp.pos + 1 AS INTEGER), length(v.p)) = v.p
        |  GROUP BY 1, 2),
        |rec(w, pos, np) AS (
        |  SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM words
        |  UNION ALL
        |  SELECT r.w, r.pos + s.step, r.np + 1
        |  FROM rec r JOIN steps s ON s.w = r.w AND s.pos = r.pos
        |  WHERE r.pos < length(r.w)),
        |fin AS (SELECT w, np FROM rec WHERE pos = length(w))
        |SELECT w0.source, CAST(count(*) AS BIGINT) AS n_word_types,
        |       CAST(sum(w0.cnt) AS BIGINT) AS n_tokens,
        |       CAST(sum(f.np * w0.cnt) AS BIGINT) AS n_pieces,
        |       CAST(sum(f.np * w0.cnt) * 1000000 // sum(w0.cnt) AS BIGINT)
        |         AS pieces_per_token_e6,
        |       CAST(sum(CASE WHEN f.np = 1 THEN w0.cnt ELSE 0 END) * 1000000
        |            // sum(w0.cnt) AS BIGINT) AS whole_word_ppm,
        |       CAST(max(f.np) AS BIGINT) AS max_pieces
        |FROM w0 JOIN fin f ON f.w = w0.w
        |GROUP BY w0.source ORDER BY w0.source""".stripMargin) { (s, d) =>
      import s.implicits._
      val words = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ", -1)).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
        .persist() // global census + the encode map share it
      val gw = words.groupBy("w").agg(sum("cnt").as("c"))
        .persist() // both alphabets + both substring censuses
      val initChars = gw.select(expr("substring(w, 1, 1)").as("p")).distinct()
      val contChars = gw.where(length(col("w")) >= 2)
        .select(col("w"), explode(sequence(lit(2), length(col("w")))).as("i"))
        .select(expr("substring(w, i, 1)").as("p")).distinct()
      val initTop = gw
        .select(col("w"), col("c"), explode(sequence(lit(2), lit(4))).as("L"))
        .where(length(col("w")) >= col("L"))
        .select(expr("substring(w, 1, L)").as("p"), col("c"))
        .groupBy("p").agg(sum("c").as("pc"))
        .orderBy(col("pc").desc, col("p")).limit(100).select("p")
      val contTop = gw
        .select(col("w"), col("c"), explode(sequence(lit(2), lit(4))).as("L"))
        .where(length(col("w")) >= col("L") + 1)
        .select(col("w"), col("c"), col("L"),
          explode(sequence(lit(2), length(col("w")) - col("L") + 1)).as("i"))
        .select(expr("substring(w, i, L)").as("p"), col("c"))
        .groupBy("p").agg(sum("c").as("pc"))
        .orderBy(col("pc").desc, col("p")).limit(100).select("p")
      // both fitted vocabularies are k-row statistics — collected once,
      // broadcast to the row-local greedy scan (q479's posture, doubled)
      val initSet = initChars.unionByName(initTop).distinct()
        .as[String].collect().toSet
      val contSet = contChars.unionByName(contTop).distinct()
        .as[String].collect().toSet
      val bi = s.sparkContext.broadcast(initSet)
      val bk = s.sparkContext.broadcast(contSet)
      val enc = words.select("source", "w", "cnt").as[(String, String, Long)]
        .map { case (src, w, cnt) =>
          // code-point walk (q479's round-14 discipline): both engines'
          // vocabularies are codepoint substrings, so positions count
          // code points, never UTF-16 units
          val cpLen = w.codePointCount(0, w.length)
          var pos = 0 // code-point index
          var cu = 0  // UTF-16 offset of pos
          var np = 0L
          while (pos < cpLen) {
            val vocab = if (pos == 0) bi.value else bk.value
            var l = math.min(4, cpLen - pos)
            while (l > 1 &&
                   !vocab.contains(
                     w.substring(cu, w.offsetByCodePoints(cu, l))))
              l -= 1
            // l == 1 always matches: the position-split alphabets cover
            // every corpus character at their position class
            cu = w.offsetByCodePoints(cu, l)
            pos += l
            np += 1
          }
          (src, cnt, np)
        }.toDF("source", "cnt", "np")
      enc.groupBy("source").agg(
          count(lit(1)).as("n_word_types"),
          sum("cnt").as("n_tokens"),
          sum(col("np") * col("cnt")).as("n_pieces"),
          expr("sum(np * cnt) * 1000000 div sum(cnt)")
            .as("pieces_per_token_e6"),
          expr("sum(CASE WHEN np = 1 THEN cnt ELSE 0 END) * 1000000" +
            " div sum(cnt)").as("whole_word_ppm"),
          max("np").as("max_pieces"))
        .orderBy("source")
    },

    // STREAMING twin of q480 (round 14) — the mixture sampler on the
    // serving path: source names ARRIVE as a file stream (a downstream
    // consumer asking "what does the mixture take from this source?") and
    // each micro-batch answers from the STATIC corpus's persisted sampler
    // report (quotas + selections + checksums computed once — the
    // q471/q472/q476 static-corpus posture). Verdicts append to
    // batchId-keyed overwrite dirs (retry-idempotent sinks), the stream
    // drains to a STOP after wave A (even-quota sources) and RESUMES the
    // same checkpoint for wave B (odd-quota sources). Per-source rows over
    // a static corpus => streamed == batch EXACTLY - the oracle is q480's
    // VERBATIM (shared QuotaSampleSql), no weaker contract.
    QueryDef("q483_stream_quota", QuotaSampleSql.sql) { (s, d) =>
      import org.apache.spark.sql.types.{StringType, StructType}
      Scratch.run(s, "graft_quota_q_") { root =>
        val report = quotaSampleReport(Tables.documents(s, d))
          .persist() // static corpus statistic: probed by every batch
        report.count(): Unit
        Drain.twoWaves(s"$root/landing",
            report.select("source").where(col("quota") % 2 === 0).coalesce(1),
            report.select("source").where(col("quota") % 2 =!= 0).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType().add("source", StringType))
            .option("maxFilesPerTrigger", 1)
            .parquet(s"$root/landing")
          Drain.toBatchDirs(stream, s"$root/out", s"$root/ckpt") { (batch, _) =>
            report.join(broadcast(batch.select("source")), "source")
          }
        }
        val res = s.read.parquet(s"$root/out")
          .select("source", "n", "quota", "n_selected", "quota_exact",
            "sel_checksum")
          .orderBy("source")
          // the result READS $root/out - materialize before the delete
          .localCheckpoint()
        report.unpersist()
        res
      }
    },

    // Tokenizer DECODE / round-trip fidelity census (round 15) — the
    // serving-side check every tokenizer deployment runs before shipping a
    // vocabulary: encode→decode must reproduce the original word, and the
    // words that CAN'T round-trip (an out-of-alphabet character at some
    // position class → the whole word is [UNK], the BERT rule) must be
    // censused, because every one of them is silent data loss at training
    // time. The vocabularies are q482's two-table WordPiece fit over the
    // CLEAN corpus; the SERVE corpus injects deterministic OOV words
    // identically on both engines (q481's injection discipline, keyed on
    // doc_id % 7): 'qxj' ('x' is interior-class OOV — the fixture alphabet
    // is a–y minus x/z), 'zkey' ('z' is initial-class OOV), and 'keysort'
    // (a NEW word type whose characters are covered — must round-trip).
    // The Spark side performs the REAL decode (pieces concatenate back;
    // string-compared against the original); the oracle states the
    // equivalent walk-completion form: greedy succeeds ⟺ the max-step walk
    // reaches end-of-word, and for a greedy segmentation the concatenation
    // of its pieces IS the word — so roundtrip_exact_ppm must equal the
    // non-UNK occurrence share, and a decode bug on either side is a hash
    // mismatch, not an invisible pass. Scale: q482's exactly — two
    // hash-aggregate censuses, two k-row broadcast vocabularies, row-local
    // encode+decode over the word-TYPE census, one aggregate.
    QueryDef("q484_roundtrip_fidelity",
      """WITH RECURSIVE gw AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) > 0 GROUP BY w),
        |ichars AS (SELECT DISTINCT substr(w, 1, 1) AS p FROM gw),
        |cchars AS (SELECT DISTINCT substr(w, CAST(i AS INTEGER), 1) AS p
        |           FROM gw, unnest(range(2, length(w) + 1)) AS u(i)
        |           WHERE length(w) >= 2),
        |isubs AS (SELECT substr(w, 1, CAST(L AS INTEGER)) AS p,
        |                 CAST(sum(c) AS BIGINT) AS pc
        |          FROM gw, unnest([2, 3, 4]) AS ls(L)
        |          WHERE length(w) >= L GROUP BY 1),
        |itop AS (SELECT p FROM isubs ORDER BY pc DESC, p LIMIT 100),
        |csubs AS (SELECT substr(w, CAST(i AS INTEGER), CAST(L AS INTEGER))
        |                   AS p,
        |                 CAST(sum(c) AS BIGINT) AS pc
        |          FROM gw, unnest([2, 3, 4]) AS ls(L),
        |               unnest(range(2, length(w) - L + 2)) AS u(i)
        |          WHERE length(w) >= L + 1 GROUP BY 1),
        |ctop AS (SELECT p FROM csubs ORDER BY pc DESC, p LIMIT 100),
        |vini AS MATERIALIZED (
        |  SELECT p FROM ichars UNION SELECT p FROM itop),
        |vcon AS MATERIALIZED (
        |  SELECT p FROM cchars UNION SELECT p FROM ctop),
        |t2 AS (
        |  SELECT source,
        |         text ||
        |         CASE WHEN doc_id % 7 = 0 THEN ' qxj' ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 3 THEN ' zkey' ELSE '' END ||
        |         CASE WHEN doc_id % 7 = 5 THEN ' keysort' ELSE '' END AS txt
        |  FROM documents),
        |w1 AS MATERIALIZED (
        |  SELECT source, w, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (SELECT source, unnest(string_split(txt, ' ')) AS w FROM t2)
        |  WHERE length(w) > 0 GROUP BY source, w),
        |words AS MATERIALIZED (SELECT DISTINCT w FROM w1),
        |wp AS MATERIALIZED (
        |  SELECT w, CAST(pos AS BIGINT) AS pos
        |  FROM words, unnest(range(0, length(w))) AS u(pos)),
        |steps AS MATERIALIZED (
        |  SELECT wp.w, wp.pos, CAST(max(length(v.p)) AS BIGINT) AS step
        |  FROM wp JOIN vini v
        |    ON wp.pos = 0 AND length(v.p) <= length(wp.w)
        |   AND substr(wp.w, 1, length(v.p)) = v.p
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT wp.w, wp.pos, CAST(max(length(v.p)) AS BIGINT) AS step
        |  FROM wp JOIN vcon v
        |    ON wp.pos > 0 AND length(v.p) <= length(wp.w) - wp.pos
        |   AND substr(wp.w, CAST(wp.pos + 1 AS INTEGER), length(v.p)) = v.p
        |  GROUP BY 1, 2),
        |rec(w, pos, np) AS (
        |  SELECT w, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM words
        |  UNION ALL
        |  SELECT r.w, r.pos + s.step, r.np + 1
        |  FROM rec r JOIN steps s ON s.w = r.w AND s.pos = r.pos
        |  WHERE r.pos < length(r.w)),
        |fin AS (SELECT w, np FROM rec WHERE pos = length(w))
        |SELECT w1.source,
        |       CAST(count(*) AS BIGINT) AS n_word_types,
        |       CAST(sum(w1.cnt) AS BIGINT) AS n_tokens,
        |       CAST(sum(CASE WHEN f.np IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS unk_types,
        |       CAST(sum(CASE WHEN f.np IS NULL THEN w1.cnt ELSE 0 END)
        |            * 1000000 // sum(w1.cnt) AS BIGINT) AS unk_token_ppm,
        |       CAST(sum(CASE WHEN f.np IS NULL THEN 0 ELSE w1.cnt END)
        |            * 1000000 // sum(w1.cnt) AS BIGINT)
        |         AS roundtrip_exact_ppm,
        |       CAST(coalesce(sum(f.np * w1.cnt), 0) AS BIGINT) AS n_pieces,
        |       CAST(coalesce(max(f.np), 0) AS BIGINT) AS max_pieces
        |FROM w1 LEFT JOIN fin f ON f.w = w1.w
        |GROUP BY w1.source ORDER BY w1.source""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      // fit: q482's two-vocabulary WordPiece fit over the CLEAN corpus
      val gw = docs.select(explode(split(col("text"), " ", -1)).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("c"))
        .persist() // both alphabets + both substring censuses
      val initChars = gw.select(expr("substring(w, 1, 1)").as("p")).distinct()
      val contChars = gw.where(length(col("w")) >= 2)
        .select(col("w"), explode(sequence(lit(2), length(col("w")))).as("i"))
        .select(expr("substring(w, i, 1)").as("p")).distinct()
      val initTop = gw
        .select(col("w"), col("c"), explode(sequence(lit(2), lit(4))).as("L"))
        .where(length(col("w")) >= col("L"))
        .select(expr("substring(w, 1, L)").as("p"), col("c"))
        .groupBy("p").agg(sum("c").as("pc"))
        .orderBy(col("pc").desc, col("p")).limit(100).select("p")
      val contTop = gw
        .select(col("w"), col("c"), explode(sequence(lit(2), lit(4))).as("L"))
        .where(length(col("w")) >= col("L") + 1)
        .select(col("w"), col("c"), col("L"),
          explode(sequence(lit(2), length(col("w")) - col("L") + 1)).as("i"))
        .select(expr("substring(w, i, L)").as("p"), col("c"))
        .groupBy("p").agg(sum("c").as("pc"))
        .orderBy(col("pc").desc, col("p")).limit(100).select("p")
      val initSet = initChars.unionByName(initTop).distinct()
        .as[String].collect().toSet
      val contSet = contChars.unionByName(contTop).distinct()
        .as[String].collect().toSet
      val bi = s.sparkContext.broadcast(initSet)
      val bk = s.sparkContext.broadcast(contSet)
      // serve corpus: deterministic OOV injection, identical on both
      // engines (see the QueryDef comment for the three injected classes)
      val t2 = docs.select(col("source"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" qxj")).otherwise(lit("")),
          when(col("doc_id") % 7 === 3, lit(" zkey")).otherwise(lit("")),
          when(col("doc_id") % 7 === 5, lit(" keysort"))
            .otherwise(lit(""))).as("txt"))
      val w1 = t2
        .select(col("source"), explode(split(col("txt"), " ", -1)).as("w"))
        .where(length(col("w")) > 0)
        .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
      val enc = w1.select("source", "w", "cnt").as[(String, String, Long)]
        .map { case (src, w, cnt) =>
          // encode + REAL decode: the greedy walks code points (q479's
          // round-14 discipline); pieces append into a builder, and the
          // round trip is an actual string comparison against the input —
          // a word whose single character misses its position-class table
          // is [UNK] wholesale (the BERT rule) and fails the round trip
          val cpLen = w.codePointCount(0, w.length)
          var pos = 0 // code-point index
          var cu = 0  // UTF-16 offset of pos
          var np = 0L
          var unk = false
          val sb = new java.lang.StringBuilder
          while (pos < cpLen && !unk) {
            val vocab = if (pos == 0) bi.value else bk.value
            var l = math.min(4, cpLen - pos)
            while (l > 1 &&
                   !vocab.contains(
                     w.substring(cu, w.offsetByCodePoints(cu, l))))
              l -= 1
            val piece = w.substring(cu, w.offsetByCodePoints(cu, l))
            if (l == 1 && !vocab.contains(piece)) unk = true
            else {
              sb.append(piece)
              cu = w.offsetByCodePoints(cu, l)
              pos += l
              np += 1
            }
          }
          val decoded = if (unk) "[UNK]" else sb.toString
          (src, cnt, if (unk) -1L else np,
            if (decoded == w) cnt else 0L)
        }.toDF("source", "cnt", "np", "okcnt")
      enc.groupBy("source").agg(
          count(lit(1)).as("n_word_types"),
          sum("cnt").as("n_tokens"),
          sum(when(col("np") < 0, 1L).otherwise(0L)).as("unk_types"),
          expr("sum(CASE WHEN np < 0 THEN cnt ELSE 0 END) * 1000000" +
            " div sum(cnt)").as("unk_token_ppm"),
          expr("sum(okcnt) * 1000000 div sum(cnt)")
            .as("roundtrip_exact_ppm"),
          sum(when(col("np") >= 0, col("np") * col("cnt")).otherwise(0L))
            .as("n_pieces"),
          max(when(col("np") >= 0, col("np")).otherwise(0L))
            .as("max_pieces"))
        .orderBy("source")
    },

    // Corpus-growth grid (round 15) — the per-checkpoint curve q385 FITS:
    // per doc-id checkpoint (q385's ≤~512-bucket max-census bucketing),
    // docs, trigram tokens, newly-seen trigram types (first-occurrence
    // census), and the cumulative token/vocabulary totals — the rows an
    // ingest monitor plots and alarms on ("did vocabulary growth bend?").
    // The trigram unit for q385's stated reason (the generator's word
    // vocabulary saturates in the first documents; the trigram space keeps
    // growing corpus-long). Scale: one explode + three hash aggregates;
    // the only window runs over the BOUNDED checkpoint grid (PlanSpec
    // whitelist, q385's justification), never per-document.
    QueryDef("q485_vocab_growth", VocabGrowthSql.sql) { (s, d) =>
      val docs = Tables.documents(s, d)
      val mx = docs.agg(max("doc_id").as("mid"))
        .select(greatest(lit(1L), expr("(mid + 1) div 256")).as("wd"))
      val dk = docs.crossJoin(broadcast(mx))
        .groupBy(expr("doc_id div wd").as("ck"))
        .agg(count(lit(1)).as("n_docs"))
      val toks = trigramTokens(docs)
        .persist() // checkpoint counts + first-occurrence census share it
      val dt = toks.crossJoin(broadcast(mx))
        .groupBy(expr("doc_id div wd").as("ck"))
        .agg(count(lit(1)).as("nt"))
      val nv = toks.groupBy("token").agg(min("doc_id").as("fd"))
        .crossJoin(broadcast(mx))
        .groupBy(expr("fd div wd").as("ck"))
        .agg(count(lit(1)).as("nv"))
      val w = Window.orderBy("ck")
      dk.join(dt, Seq("ck"), "left").join(nv, Seq("ck"), "left")
        .select(col("ck"), col("n_docs"),
          coalesce(col("nv"), lit(0L)).as("new_types"),
          sum(coalesce(col("nt"), lit(0L))).over(w).as("cum_tokens"),
          sum(coalesce(col("nv"), lit(0L))).over(w).as("cum_types"))
        .orderBy("ck")
    },

    // STREAMING twin of q485 (round 15) — corpus health computed
    // INCREMENTALLY as documents arrive, the shape a live ingest monitor
    // actually runs: the corpus streams in two doc-id-ordered waves (stop
    // after wave A, resume the same checkpoint for wave B — the q476
    // harness), and each micro-batch extends REAL cross-batch state
    // instead of answering from a precomputed report: newly-seen trigram
    // types are the batch's types anti-joined against the accumulated
    // seen-state, cumulative totals carry over from the previously
    // emitted grid rows, and both the grid rows and the seen-delta land
    // in batchId-keyed overwrite dirs (a retried batch reads only
    // batches < its own id and overwrites its own partitions —
    // idempotent). The checkpoint width comes from the corpus's stated
    // doc-id domain (the ingest manifest — q483's static-domain posture);
    // waves split on a checkpoint boundary, so every checkpoint belongs
    // to exactly one batch and streamed ≡ batch EXACTLY: the oracle is
    // q485's VERBATIM (shared VocabGrowthSql, OracleHealthSpec-guarded).
    // SCALE CONTRACT for the state dir: each batch anti-joins against the
    // full accumulated vocabulary — O(V) rows per batch, inherent to the
    // check — but the DELTA-PER-BATCH layout means the file count grows
    // with batch count; a long-lived deployment compacts state/batch=*
    // periodically into a single snapshot keyed at the last compacted
    // batch id (exactly q487's log-compaction shape applied to this
    // state dir). Two waves here ⇒ compaction is a no-op, so the query
    // states the contract instead of performing it.
    QueryDef("q486_stream_vocab_growth", VocabGrowthSql.sql) { (s, d) =>
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      Scratch.run(s, "graft_vgrow_q_") { root =>
        val docs = Tables.documents(s, d).select("doc_id", "text")
        val mid = docs.agg(max("doc_id")).head().getLong(0)
        val wd = math.max(1L, (mid + 1L) / 256L)
        val ckSplit = (mid / wd + 1L) / 2L // wave boundary ON a ck boundary
        def readPrior(dir: String, schema: StructType, bid: Long) = {
          val f = new java.io.File(dir)
          if (f.isDirectory && f.listFiles != null
              && f.listFiles.exists(_.getName.startsWith("batch=")))
            s.read.schema(schema.add("batch", LongType)).parquet(dir)
              .where(col("batch") < bid)
          else s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            schema.add("batch", LongType))
        }
        val gridSchema = new StructType()
          .add("ck", LongType).add("n_docs", LongType)
          .add("new_types", LongType).add("cum_tokens", LongType)
          .add("cum_types", LongType)
        val seenSchema = new StructType().add("token", StringType)
        Drain.twoWaves(s"$root/landing",
            docs.where(expr(s"doc_id div ${wd}L") < ckSplit).coalesce(1),
            docs.where(expr(s"doc_id div ${wd}L") >= ckSplit).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType()
              .add("doc_id", LongType).add("text", StringType))
            .option("maxFilesPerTrigger", 1)
            .parquet(s"$root/landing")
          Drain.foreachBatch(stream, s"$root/ckpt") { (batch0, bid) =>
            val batch = batch0.persist() // doc census + trigram explode
            val toks = trigramTokens(batch)
              .persist() // token count + first-occurrence share it
            val dk = batch
              .groupBy(expr(s"doc_id div ${wd}L").as("ck"))
              .agg(count(lit(1)).as("n_docs"))
            val dt = toks
              .groupBy(expr(s"doc_id div ${wd}L").as("ck"))
              .agg(count(lit(1)).as("nt"))
            val seen = readPrior(s"$root/state", seenSchema, bid)
              .select("token")
            val ft = toks.groupBy("token").agg(min("doc_id").as("fd"))
              .join(seen, Seq("token"), "left_anti")
              .persist() // the nv census + the state delta share it
            val nv = ft.groupBy(expr(s"fd div ${wd}L").as("ck"))
              .agg(count(lit(1)).as("nv"))
            val prior = readPrior(s"$root/out", gridSchema, bid)
              .agg(coalesce(max("cum_tokens"), lit(0L)).as("pt"),
                coalesce(max("cum_types"), lit(0L)).as("pv"))
            // batch-local cumsum over the batch's ≤bounded ck slice,
            // offset by the carried-in totals
            val w = Window.orderBy("ck")
            dk.join(dt, Seq("ck"), "left").join(nv, Seq("ck"), "left")
              .crossJoin(broadcast(prior))
              .select(col("ck"), col("n_docs"),
                coalesce(col("nv"), lit(0L)).as("new_types"),
                (sum(coalesce(col("nt"), lit(0L))).over(w) + col("pt"))
                  .as("cum_tokens"),
                (sum(coalesce(col("nv"), lit(0L))).over(w) + col("pv"))
                  .as("cum_types"))
              .write.mode("overwrite").parquet(s"$root/out/batch=$bid")
            ft.select("token")
              .write.mode("overwrite").parquet(s"$root/state/batch=$bid")
            ft.unpersist()
            toks.unpersist()
            batch.unpersist(): Unit
          }
        }
        val res = s.read.parquet(s"$root/out")
          .select("ck", "n_docs", "new_types", "cum_tokens", "cum_types")
          .orderBy("ck")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
        res
      }
    }
  )

  /** q385's trigram unit over any (doc_id, text) relation — shared by the
    * growth grid (q485) and its incremental streamed twin (q486) so both
    * tokenize identically.
    */
  private def trigramTokens(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ", -1).as("l"))
      .where(size(col("l")) >= 3)
      .select(col("doc_id"),
        explode(expr("sequence(1, size(l) - 2)")).as("i"), col("l"))
      .select(col("doc_id"),
        expr("concat(element_at(l, i), ' ', element_at(l, i + 1)," +
          " ' ', element_at(l, i + 2))").as("token"))

  /** q480's computation over any (doc_id, source) relation — split out so
    * the streamed twin (q483) serves the SAME report from the SAME code;
    * see the q480 QueryDef comment for the contract.
    */
  private[queries] def quotaSampleReport(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import graft.functions.Hashes
      import org.apache.spark.sql.expressions.Window
      val src = docs
        .groupBy("source").agg(count(lit(1)).as("n"))
      val tot = src.agg(sum("n").as("total"))
      val b = src.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          expr("(200 * n) div total").as("base"),
          expr("(200 * n) % total").as("rem"))
      val lo = b.agg((lit(200L) - sum("base")).as("leftover"))
      // the quota relation is a k-row source census — its remainder rank
      // is the q199 window, bounded
      val q = b.crossJoin(broadcast(lo))
        .withColumn("rk",
          row_number().over(Window.orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("n"),
          (col("base") + when(col("rk") <= col("leftover"), 1L)
            .otherwise(0L)).as("quota"))
      val w = Window.partitionBy("source")
        .orderBy(Hashes.mulHash(col("doc_id"), 77), col("doc_id"))
      // every quota ≤ the 200-doc global budget, so the LITERAL rank cap
      // rk <= 200 is a no-op on the result but compiles to a map-side
      // WindowGroupLimit — each task forwards ≤ 200 rows per source before
      // the per-source sort, so a skewed giant source never funnels its
      // full row set through one window task
      val sel = docs.select(col("source"), col("doc_id"))
        .withColumn("rk", row_number().over(w))
        .where(col("rk") <= 200)
        .join(broadcast(q), "source")
        .where(col("rk") <= col("quota"))
        .select(col("source"), col("doc_id"))
      q.join(sel.groupBy(col("source").as("ssrc"))
            .agg(count(lit(1)).as("n_selected"),
              sum(Hashes.mulHash(col("doc_id"), 91)).as("sel_checksum")),
          col("source") === col("ssrc"), "left")
        .select(col("source"), col("n"), col("quota"),
          coalesce(col("n_selected"), lit(0L)).as("n_selected"),
          (coalesce(col("n_selected"), lit(0L)) === col("quota"))
            .as("quota_exact"),
          coalesce(col("sel_checksum"), lit(0L)).as("sel_checksum"))
        .orderBy("source")
    
  }

  /** q473's computation over any (doc_id, text) relation — split out so
    * Round16Spec can pin the β = 1 (all-unique) and β = 0 (single-token)
    * invariants on synthetic corpora.
    */
  def heapsLaw(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import graft.functions.IntLn
    val t = docs.select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
    val lens = t.select(col("doc_id"), size(col("toks")).cast("long").as("n"))
    // doc-count-sized running offset: position of each doc's first token
    // in the doc_id-ordered global token stream. The relation is row-scale
    // (every doc contributes a row), so the exclusive cumsum runs as the
    // two-pass PrefixSum zip, NOT a partition-less window — the oracle
    // still states the plain `sum(n) OVER (ORDER BY doc_id ... 1 PRECEDING)`
    // because integer addition over the total doc_id order makes the two
    // evaluation strategies bit-identical (round-13 fix; the plan is
    // asserted window-free in PlanSpec's partition-less-window sweep).
    val offs = graft.operators.PrefixSum.cumsum(lens, Seq(col("doc_id")),
        "n", inclusive = false, sumName = "off")
      .select("doc_id", "off")
    val fo = t.join(offs, "doc_id")
      .select(col("off"), posexplode(col("toks")).as(Seq("i", "tok")))
      .groupBy("tok").agg(min(col("off") + col("i")).as("fp"))
      .persist() // 8 checkpoint probes
    val nt = lens.agg(sum("n")).head().getLong(0)
    val vocab = fo.count()
    val cps = (1 to 8).map(k => (k.toLong, math.max(1L, nt >> (8 - k))))
    val cp = broadcast(fo.sparkSession.createDataFrame(cps).toDF("k", "nk"))
    val vk = cp.join(fo, col("fp") < col("nk"))
      .groupBy("k", "nk").agg(count(lit(1)).as("vk"))
    val pts = IntLn.sparkCols(IntLn.sparkCols(vk, "nk", "n_"), "vk", "v_")
      .select(expr(IntLn.roundE6("n_", "div")).as("x"),
        expr(IntLn.roundE6("v_", "div")).as("y"))
    pts
      .agg(count(lit(1)).as("np"),
        sum(col("x").cast("decimal(38,0)")).as("sx"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum((col("x").cast("decimal(38,0)") * col("y"))).as("sxy"),
        sum((col("x").cast("decimal(38,0)") * col("x"))).as("sxx"))
      .select(col("np").as("n_points"),
        // degenerate x spread (tiny corpus, repeated checkpoints) pins 0
        // on BOTH engines instead of Spark-null vs DuckDB-error
        expr("cast(CASE WHEN np * sxx - sx * sx = 0 THEN 0" +
          " ELSE (np * sxy - sx * sy) * 1000000" +
          " div (np * sxx - sx * sx) END as bigint)").as("beta_e6"),
        lit(nt).as("n_tokens"), lit(vocab).as("vocab"))
  }
}

/** q473 oracle: the same prefix-checkpoint construction — doc-length
  * cumsum offsets, per-token min global position, V_k per log-spaced
  * checkpoint, IntLn points, HUGEINT OLS moments, guarded slope.
  */
/** q480's oracle, shared VERBATIM with its streamed twin q483 (the
  * q474/q476 one-text discipline).
  */
/** Oracle for q485 AND its streamed twin q486 (shared VERBATIM — the
  * q474≡q476 / q480≡q483 twin discipline, guarded in OracleHealthSpec):
  * the per-checkpoint corpus-growth grid. Checkpointing and the trigram
  * unit are q385's exactly (see its QueryDef comment); this query exposes
  * the growth CURVE q385 fits — the per-checkpoint rows an ingest monitor
  * actually plots and alarms on.
  */
private[queries] object VocabGrowthSql {
  val sql: String =
    """WITH mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS mid
      |            FROM documents),
      |w AS (SELECT greatest(1, (mid + 1) // 256) AS wd FROM mx),
      |dk AS (SELECT doc_id // (SELECT wd FROM w) AS ck,
      |         CAST(count(*) AS BIGINT) AS n_docs
      |       FROM documents GROUP BY 1),
      |toks AS (
      |  SELECT doc_id, g AS token FROM (
      |    SELECT doc_id, string_split(text, ' ') AS l FROM documents) b,
      |  LATERAL (SELECT unnest(range(1, len(l) - 1)) AS i) ii,
      |  LATERAL (SELECT l[i] || ' ' || l[i + 1] || ' ' || l[i + 2] AS g)
      |    gg
      |  WHERE len(l) >= 3),
      |dt AS (SELECT doc_id // (SELECT wd FROM w) AS ck,
      |         CAST(count(*) AS BIGINT) AS nt
      |       FROM toks GROUP BY 1),
      |ft AS (SELECT token, CAST(min(doc_id) AS BIGINT) AS fd
      |       FROM toks GROUP BY token),
      |nv AS (SELECT fd // (SELECT wd FROM w) AS ck,
      |         CAST(count(*) AS BIGINT) AS nv
      |       FROM ft GROUP BY 1)
      |SELECT dk.ck, dk.n_docs,
      |       CAST(coalesce(nv.nv, 0) AS BIGINT) AS new_types,
      |       CAST(sum(coalesce(dt.nt, 0)) OVER (ORDER BY dk.ck) AS BIGINT)
      |         AS cum_tokens,
      |       CAST(sum(coalesce(nv.nv, 0)) OVER (ORDER BY dk.ck) AS BIGINT)
      |         AS cum_types
      |FROM dk LEFT JOIN dt ON dt.ck = dk.ck
      |LEFT JOIN nv ON nv.ck = dk.ck
      |ORDER BY dk.ck""".stripMargin
}

private[queries] object QuotaSampleSql {
  import graft.functions.Hashes
  val sql: String =
    s"""WITH s AS (SELECT source, CAST(count(*) AS BIGINT) AS n
         |           FROM documents GROUP BY source),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM s),
         |b AS (SELECT source, n, (200 * n) // total AS base,
         |             (200 * n) % total AS rem
         |      FROM s, t),
         |l AS (SELECT CAST(200 - sum(base) AS BIGINT) AS leftover FROM b),
         |q AS (SELECT source, n,
         |             base + CASE WHEN row_number()
         |                 OVER (ORDER BY rem DESC, source) <= leftover
         |               THEN 1 ELSE 0 END AS quota
         |      FROM b, l),
         |r AS (SELECT d.source, d.doc_id,
         |             row_number() OVER (PARTITION BY d.source
         |               ORDER BY ${Hashes.mulHashSql("d.doc_id", 77)},
         |                        d.doc_id) AS rk
         |      FROM documents d),
         |sel AS (SELECT r.source, r.doc_id
         |        FROM r JOIN q ON q.source = r.source
         |        WHERE r.rk <= q.quota)
         |SELECT q.source, q.n, CAST(q.quota AS BIGINT) AS quota,
         |       CAST(count(sel.doc_id) AS BIGINT) AS n_selected,
         |       CAST(count(sel.doc_id) AS BIGINT) = CAST(q.quota AS BIGINT)
         |         AS quota_exact,
         |       CAST(coalesce(sum(${Hashes.mulHashSql("sel.doc_id", 91)}),
         |            0) AS BIGINT) AS sel_checksum
         |FROM q LEFT JOIN sel ON sel.source = q.source
         |GROUP BY q.source, q.n, q.quota ORDER BY q.source""".stripMargin
}

private[queries] object HeapsSql {
  import graft.functions.IntLn

  val sql: String = {
    val ptsInner = IntLn.duckNest(IntLn.duckNest(
      "SELECT k, nk, vk FROM vkt", "nk", "n_"), "vk", "v_")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
       |           FROM documents),
       |lens AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n FROM t),
       |offs AS (SELECT doc_id,
       |           CAST(coalesce(sum(n) OVER (ORDER BY doc_id
       |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |             AS BIGINT) AS off
       |         FROM lens),
       |fo AS (SELECT toks[i + 1] AS tok, min(o.off + i) AS fp
       |       FROM t JOIN offs o USING (doc_id),
       |            unnest(range(0, len(toks))) AS u(i)
       |       GROUP BY 1),
       |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM lens),
       |voc AS (SELECT CAST(count(*) AS BIGINT) AS v FROM fo),
       |cp AS (SELECT k, greatest(1, nt // (1 << (8 - k))) AS nk
       |       FROM tot, unnest(range(1, 9)) AS g(k)),
       |vkt AS (SELECT cp.k, cp.nk, CAST(count(*) AS BIGINT) AS vk
       |        FROM cp JOIN fo ON fo.fp < cp.nk GROUP BY 1, 2),
       |pts AS (SELECT ${IntLn.roundE6("n_", "//")} AS x,
       |               ${IntLn.roundE6("v_", "//")} AS y
       |        FROM ($ptsInner)),
       |m AS (SELECT CAST(count(*) AS HUGEINT) AS np,
       |             CAST(sum(x) AS HUGEINT) AS sx,
       |             CAST(sum(y) AS HUGEINT) AS sy,
       |             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
       |             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
       |      FROM pts)
       |SELECT CAST(np AS BIGINT) AS n_points,
       |       CAST(CASE WHEN np * sxx - sx * sx = 0 THEN 0
       |            ELSE (np * sxy - sx * sy) * 1000000
       |                 // (np * sxx - sx * sx) END AS BIGINT) AS beta_e6,
       |       (SELECT nt FROM tot) AS n_tokens,
       |       (SELECT v FROM voc) AS vocab
       |FROM m""".stripMargin
  }
}

/** Oracle for q149: the relational K-scan formulation — corpus × patterns
  * cross join, occurrences via the replace trick
  * `(len(text) − len(replace(text, kw, ''))) / len(kw)` (non-overlapping;
  * equal to the automaton's count because the patterns are borderless).
  */
private object BlocklistSql {
  val patterns: Seq[String] = Seq("batch stream", "hash join", "merge part",
    "slow query", "spark", "stream spark", "table scan", "vector")

  val sql: String = {
    val lits = patterns.map(p => s"'$p'").mkString(", ")
    s"""WITH kw AS (SELECT unnest([$lits]) AS kw),
       |hits AS (SELECT d.doc_id, k.kw,
       |                (length(d.text) - length(replace(d.text, k.kw, '')))
       |                  // length(k.kw) AS n
       |         FROM documents d CROSS JOIN kw k)
       |SELECT kw AS keyword,
       |       CAST(count(CASE WHEN n > 0 THEN 1 END) AS BIGINT) AS n_docs,
       |       CAST(sum(n) AS BIGINT) AS n_hits
       |FROM hits GROUP BY kw ORDER BY keyword""".stripMargin
  }
}

/** Unrolled-CTE DuckDB oracle for the 3-round BPE fit: per round, pair
  * counts from the evolving symbol relation, argmax by (count DESC, a, b),
  * and the same one-symbol-carry fold [[graft.operators.BpeLearn]] applies.
  *
  * Accumulator encoding: DuckDB 1.0's `list_reduce` CORRUPTS a list nested
  * inside a struct accumulator (the lambda sees a stale `out` from two
  * steps back — verified: folding ['q','u','e'] with a {out, carry} struct
  * yields out=['u'], dropping 'q'), so the state is a plain VARCHAR[]
  * instead: prefix = emitted output, LAST element = the carry, `chr(1)` =
  * "no carry" (safe: no corpus symbol is the SOH control byte — symbols are
  * tokens' characters and their concatenations).
  */
private object BpeLearnSql {

  /** One round: pairs p_N from s_{N-1}, winner m_N, rewritten s_N, corpus
    * symbol checksum t_N.
    */
  private def round(n: Int): String = {
    val prev = s"s${n - 1}"
    s"""p$n AS (SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS c
       |  FROM (SELECT freq, unnest(list_transform(range(1, len(sym)),
       |                i -> {'a': sym[i], 'b': sym[i + 1]})) AS pr
       |        FROM $prev)
       |  GROUP BY pr.a, pr.b),
       |m$n AS (SELECT a AS ma, b AS mb, c AS mc FROM p$n
       |        ORDER BY c DESC, a, b LIMIT 1),
       |s$n AS (SELECT w, freq,
       |  CASE WHEN r[len(r)] = chr(1) THEN r[1:len(r) - 1] ELSE r END AS sym
       |  FROM (SELECT w, freq, list_reduce(
       |      list_prepend(CAST([chr(1)] AS VARCHAR[]),
       |        list_transform(sym, s -> [s])),
       |      (acc, e) -> CASE
       |        WHEN acc[len(acc)] = chr(1)
       |          THEN list_append(acc[1:len(acc) - 1], e[1])
       |        WHEN acc[len(acc)] = ma AND e[1] = mb
       |          THEN list_append(
       |                 list_append(acc[1:len(acc) - 1], ma || mb), chr(1))
       |        ELSE list_append(
       |               list_append(acc[1:len(acc) - 1], acc[len(acc)]),
       |               e[1]) END) AS r
       |    FROM $prev, m$n)),
       |t$n AS (SELECT CAST(sum(freq * len(sym)) AS BIGINT) AS nt FROM s$n)"""
      .stripMargin
  }

  /** Shared learning prefix: word frequencies, char split (word carried
    * through every round), and the 3 unrolled rounds.
    */
  private val learnCtes: String =
    s"""w AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
       |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  GROUP BY w),
       |s0 AS (SELECT w, freq,
       |  list_transform(range(1, len(w) + 1), i -> w[i]) AS sym FROM w),
       |${round(1)},
       |${round(2)},
       |${round(3)}""".stripMargin

  val sql: String =
    s"""WITH $learnCtes
       |SELECT rank, lhs, rhs, pair_count, corpus_tokens_after FROM (
       |  SELECT 1 AS rank, ma AS lhs, mb AS rhs, mc AS pair_count,
       |         t1.nt AS corpus_tokens_after FROM m1, t1
       |  UNION ALL SELECT 2, ma, mb, mc, t2.nt FROM m2, t2
       |  UNION ALL SELECT 3, ma, mb, mc, t3.nt FROM m3, t3)
       |ORDER BY rank""".stripMargin

  /** q137's oracle: the same learning CTEs, then the corpus re-tokenized by
    * joining each token occurrence to its word's encoded length from s3.
    */
  val applySql: String =
    s"""WITH $learnCtes,
       |wl AS (SELECT w, CAST(len(sym) AS BIGINT) AS n_sym FROM s3),
       |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |        FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(n_sym) AS BIGINT) AS n_sym
       |FROM tok JOIN wl USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
}

/** Language-ID oracle: same marker lists, same argmax/tie-break. */
private object LangIdSql {
  private val markers = TextQueries.langMarkers.toSeq.sortBy(_._1)
  private def scoreExpr(ms: Seq[String]): String =
    s"len(list_filter(toks, x -> x IN (${ms.map(m => s"'$m'").mkString(", ")})))"
  val sql: String = {
    val langs = markers.map(_._1)
    val scoreCols = markers.map { case (l, ms) => s"${scoreExpr(ms)} AS score_$l" }
    val mx = s"greatest(${langs.map(l => s"score_$l").mkString(", ")})"
    val predCase = langs.map(l => s"WHEN score_$l = mx THEN '$l'").mkString(" ")
    s"""WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
       |s AS (SELECT lang, ${scoreCols.mkString(", ")} FROM t),
       |m AS (SELECT lang, ${langs.map(l => s"score_$l").mkString(", ")}, $mx AS mx FROM s),
       |p AS (SELECT lang, CASE $predCase END AS pred_lang FROM m)
       |SELECT lang, pred_lang, count(*) AS n
       |FROM p GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  }
}
