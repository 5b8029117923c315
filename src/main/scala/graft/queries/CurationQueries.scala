package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Scratch, Tables}
import graft.functions.{CountMin, Hashes, MisraGries}
import graft.operators.{DupSpans, Hilbert, MinHash, Redact, SimHash, UrlCanon, ZOrder}
import graft.streaming.Drain

/** Round-3 corpus-curation operators: heavy-hitter sketching, RAG chunking,
  * boilerplate passage removal, perplexity-band quality gating, exact
  * stratified splitting, weighted sampling, Z-order layout clustering, and
  * incremental (batch-vs-corpus) dedup. All follow the determinism playbook
  * (integer quantization for cross-row float reductions, salted
  * multiplicative hashes for anything "random", every ordering ending in a
  * unique key).
  */
object CurationQueries {

  val defs: Seq[QueryDef] = Seq(

    // Misra-Gries heavy hitters (custom TypedImperativeAggregate). The
    // sketch's candidate set is merge-order-dependent at the margin, so the
    // checkable contract is the MG GUARANTEE: every item with exact count
    // > N/(k+1) must appear among the ≤ k candidates. With k=2 over the
    // 3-valued o_orderstatus the sketch is in constant eviction and exactly
    // one status clears the N/3 bar in the fixture — a tight instance.
    // Scale shape: O(k) state per partition, one ≤ k-entry summary per
    // partition crosses the wire; the exact recount exists only to state the
    // contract (at 100 TB you would recount the ≤ k candidates alone).
    QueryDef("q107_heavy_hitters",
      """WITH i AS (SELECT o_orderstatus AS item FROM orders),
        |ex AS (SELECT item, count(*) AS cnt FROM i GROUP BY item),
        |t AS (SELECT count(*) AS n FROM i)
        |SELECT item, cnt, TRUE AS in_sketch
        |FROM ex, t WHERE cnt * 3 > n ORDER BY cnt DESC, item""".stripMargin) { (s, d) =>
      val k = 2
      val items = Tables.orders(s, d).select(col("o_orderstatus").as("item"))
      val exact = items.groupBy("item").agg(count(lit(1)).as("cnt"))
      val total = items.agg(count(lit(1)).as("n"))
      val cands = items.agg(MisraGries.candidates(col("item"), k).as("cands"))
      exact.crossJoin(broadcast(total))
        .where(col("cnt") * (k + 1) > col("n"))
        .crossJoin(broadcast(cands))
        .select(col("item"), col("cnt"),
          array_contains(col("cands"), col("item")).as("in_sketch"))
        .orderBy(col("cnt").desc, col("item"))
    },

    // RAG-style chunking: overlapping 32-token windows, stride 24. One narrow
    // projection + a per-row sequence explode — no shuffle at all until the
    // contract ORDER BY; fan-out is ~n_tokens/stride per doc, the minimum any
    // chunker pays. Chunk count via exact integer arithmetic on both engines.
    QueryDef("q108_chunk_windows",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t),
        |c AS (SELECT doc_id, toks,
        |             CASE WHEN n <= 32 THEN 1 ELSE ((n - 9) // 24) + 1 END AS nchunks
        |      FROM n),
        |x AS (SELECT doc_id, toks, unnest(range(0, nchunks)) AS ci FROM c)
        |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
        |       CAST(len(list_slice(toks, ci * 24 + 1, ci * 24 + 32)) AS INT)
        |         AS n_chunk_toks,
        |       array_to_string(list_slice(toks, ci * 24 + 1, ci * 24 + 32), ' ')
        |         AS chunk_text
        |FROM x ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
      val t = Tables.documents(s, d)
        .select(col("doc_id"), split(col("text"), " ", -1).as("toks"))
        .withColumn("n", size(col("toks")))
        .withColumn("nchunks",
          when(col("n") <= 32, 1)
            .otherwise(floor((col("n") - 9) / 24.0).cast("int") + 1))
      t.select(col("doc_id"), col("toks"),
          explode(sequence(lit(0), col("nchunks") - 1)).as("ci"))
        .select(col("doc_id"), col("ci").cast("int").as("chunk_idx"),
          size(slice(col("toks"), col("ci") * 24 + 1, lit(32))).as("n_chunk_toks"),
          array_join(slice(col("toks"), col("ci") * 24 + 1, lit(32)), " ")
            .as("chunk_text"))
        .orderBy("doc_id", "chunk_idx")
    },

    // Boilerplate passage removal (CCNet-style, shingle-level): a 3-token
    // shingle occurring in ≥ 3 DISTINCT documents is boilerplate; report each
    // doc's boilerplate fraction. Scale shape: explode → groupBy shingle
    // (uniform key, one shuffle) → the small boilerplate set broadcasts back
    // against the exploded stream → per-doc count (shuffle on doc_id). The
    // fraction divides two exact integers — identical doubles both engines.
    QueryDef("q109_boilerplate_shingles",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s0 AS (SELECT doc_id, unnest(${MinHash.shingleHashesSql("toks")}) AS shingle
         |       FROM t),
         |bl AS (SELECT shingle FROM (SELECT shingle, count(DISTINCT doc_id) AS nd
         |                            FROM s0 GROUP BY shingle) WHERE nd >= 3),
         |per AS (SELECT s0.doc_id, count(*) AS n_shingles,
         |               count(bl.shingle) AS n_boiler
         |        FROM s0 LEFT JOIN bl ON s0.shingle = bl.shingle
         |        GROUP BY s0.doc_id)
         |SELECT doc_id, n_shingles, n_boiler,
         |       round(CAST(n_boiler AS DOUBLE) / CAST(n_shingles AS DOUBLE), 6)
         |         AS boiler_frac
         |FROM per ORDER BY doc_id""".stripMargin) { (s, d) =>
      // exploded shingle stream feeds both the boilerplate census and the
      // per-doc recount — persist to derive once
      val sh = Tables.documents(s, d)
        .select(col("doc_id"),
          explode(MinHash.shingleHashes(split(col("text"), " ", -1))).as("shingle"))
        .persist()
      val boiler = sh.groupBy("shingle")
        .agg(countDistinct("doc_id").as("nd"))
        .where(col("nd") >= 3)
        .select(col("shingle").as("bl_shingle"))
      sh.join(broadcast(boiler), sh("shingle") === col("bl_shingle"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"), count(col("bl_shingle")).as("n_boiler"))
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          round(col("n_boiler").cast("double") / col("n_shingles").cast("double"), 6)
            .as("boiler_frac"))
        .orderBy("doc_id")
    },

    // Perplexity-band quality gate: keep documents whose mean unigram
    // log-probability sits inside [-3.41, -3.395] (the fixture's central
    // band); report kept/dropped per source. The classification compares
    // integer quantities only — sum_lp_e6 vs threshold·n_tokens — so no
    // float reduction ever crosses rows (q80's scoring pipeline reused).
    QueryDef("q110_lm_quality_gate",
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |total AS (SELECT count(*) AS n FROM tok),
        |per AS (
        |  SELECT tok.doc_id, tok.source, count(*) AS nt,
        |         CAST(sum(CAST(round(ln(freq.c / (1.0 * total.n)) * 1000000, 0)
        |                  AS BIGINT)) AS BIGINT) AS slp
        |  FROM tok JOIN freq USING (token) CROSS JOIN total
        |  GROUP BY tok.doc_id, tok.source)
        |SELECT source, count(*) AS n_docs,
        |       count(*) FILTER (WHERE slp >= -3410000 * nt
        |                          AND slp <= -3395000 * nt) AS n_kept,
        |       count(*) FILTER (WHERE slp < -3410000 * nt) AS n_low,
        |       count(*) FILTER (WHERE slp > -3395000 * nt) AS n_high
        |FROM per GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // scanned by freq, total and the scoring join — persist to tokenize once
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ", -1)).as("token"))
        .persist()
      val freq = tok.groupBy("token").agg(count(lit(1)).as("c"))
      val total = broadcast(tok.agg(count(lit(1)).as("n")))
      val per = tok.join(freq, "token").crossJoin(total)
        .select(col("doc_id"), col("source"),
          round(log(col("c") / (lit(1.0) * col("n"))) * 1000000, 0)
            .cast("long").as("lp_e6"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("nt"), sum("lp_e6").as("slp"))
      val low  = col("slp") < lit(-3410000L) * col("nt")
      val high = col("slp") > lit(-3395000L) * col("nt")
      per.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          count(when(!low && !high, 1)).as("n_kept"),
          count(when(low, 1)).as("n_low"),
          count(when(high, 1)).as("n_high"))
        .orderBy("source")
    },

    // Exact stratified split: per-language EXACT 20/20/60 allocation (the
    // sklearn train_test_split(stratify=...) contract the reference uses,
    // reference create_train_valid_test_datasets.py:119-127) — rank within
    // stratum by salted hash, integer-compare rank·5 against the stratum
    // size. Unlike q16's per-row hash split (proportions only in
    // expectation), quotas here are exact. Scale note: one window per
    // stratum; strata are few and the window carries only (hash, id) — for
    // huge strata fall back to q16's stateless split.
    QueryDef("q111_stratified_exact",
      s"""WITH r AS (SELECT doc_id, lang, ${Hashes.mulHashSql("doc_id", 1021)} AS h
         |           FROM documents),
         |w AS (SELECT lang,
         |             row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn,
         |             count(*) OVER (PARTITION BY lang) AS cnt
         |      FROM r)
         |SELECT lang,
         |       CASE WHEN rn * 5 <= cnt THEN 'test'
         |            WHEN rn * 5 <= cnt * 2 THEN 'valid' ELSE 'train' END AS split,
         |       count(*) AS n_docs
         |FROM w GROUP BY 1, 2 ORDER BY lang, split""".stripMargin) { (s, d) =>
      val byLang = Window.partitionBy("lang")
      val r = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"),
          Hashes.mulHash(col("doc_id"), 1021).as("h"))
        .select(col("lang"),
          row_number().over(byLang.orderBy("h", "doc_id")).as("rn"),
          count(lit(1)).over(byLang).as("cnt"))
      r.select(col("lang"),
          when(col("rn") * 5 <= col("cnt"), "test")
            .when(col("rn") * 5 <= col("cnt") * 2, "valid")
            .otherwise("train").as("split"))
        .groupBy("lang", "split").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "split")
    },

    // Weighted sampling without replacement (Efraimidis-Spirakis one-pass):
    // priority = -ln(u)/w with u a salted-hash uniform and w = n_chars; the
    // k smallest priorities are the sample. Deterministic u (no RNG),
    // priority quantized to integer 1e-9 units before ranking, ties broken
    // by doc_id — replayable by the oracle and independent of partitioning.
    // Scale shape: narrow map + TakeOrderedAndProject; no shuffle of the
    // corpus, only k rows reach the driver side of the sort.
    QueryDef("q112_weighted_sample",
      s"""WITH p AS (
         |  SELECT doc_id, n_chars,
         |         CAST(round(-ln((${Hashes.mulHashSql("doc_id", 77)} + 1)
         |                        / CAST(1000000008 AS DOUBLE))
         |                    / n_chars * 1000000000, 0) AS BIGINT) AS prio_e9
         |  FROM documents)
         |SELECT doc_id, n_chars, prio_e9 FROM p
         |ORDER BY prio_e9, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          round(-log((Hashes.mulHash(col("doc_id"), 77) + 1)
                     / lit(1000000008L).cast("double"))
                / col("n_chars") * 1000000000L, 0)
            .cast("long").as("prio_e9"))
        .orderBy("prio_e9", "doc_id")
        .limit(20)
    },

    // Z-order (Morton) layout key: bit-interleave of two filter dimensions.
    // The oracle checks the key arithmetic; ZOrderSpec proves the layout
    // property (disjoint per-file z-ranges ⇒ 2-d box predicates skip files).
    QueryDef("q113_zorder_key",
      s"""SELECT l_orderkey, l_linenumber,
         |       CAST(${ZOrder.zvalueSql("l_partkey", "l_suppkey")} AS BIGINT) AS zval
         |FROM lineitem WHERE l_orderkey <= 300
         |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_orderkey") <= 300)
        .select(col("l_orderkey"), col("l_linenumber"),
          ZOrder.zvalue(col("l_partkey"), col("l_suppkey")).as("zval"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Hilbert layout key — q113's Morton key upgraded to the CONTINUOUS
    // curve: consecutive indexes are always grid neighbors (HilbertSpec
    // proves bijection + continuity per cell), so a contiguous index range
    // is a connected 2-d blob and per-file envelopes are tighter at the
    // same file count. The quadrant walk is one projection step per scale
    // on the Spark side and the IDENTICAL walk as a CTE chain in the
    // oracle — same arithmetic, two emitters (operators/Hilbert.scala).
    QueryDef("q171_hilbert_key",
      Hilbert.keySql(
        from = "lineitem WHERE l_orderkey <= 300",
        carry = Seq("l_orderkey", "l_linenumber"),
        a = "l_partkey", b = "l_suppkey", out = "hval",
        orderBy = "l_orderkey, l_linenumber")) { (s, d) =>
      Hilbert.withKey(
        Tables.lineitem(s, d)
          .where(col("l_orderkey") <= 300)
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        col("l_partkey"), col("l_suppkey"), "hval")
        .select(col("l_orderkey"), col("l_linenumber"), col("hval"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Incremental corpus dedup: a "new batch" (25 docs perturbed with an
    // appended tail, 25 rewritten wholesale, 10 re-ingested verbatim)
    // checked against the full corpus. Exact dups via content-hash
    // semi-join; near-dups via 32-bit simhash cut into 6 bands (6,6,5,5,5,5
    // bits) — by pigeonhole ANY pair within Hamming distance 5 shares at
    // least one intact band, so the band equi-join is a LOSSLESS prefilter
    // for the d ≤ 5 predicate and the oracle may state the plain Hamming
    // join. Scale shape: the corpus never self-joins; candidates = band-key
    // equi-join (new side is the small batch → broadcast), Hamming verify
    // only on candidates.
    QueryDef("q114_incremental_dedup",
      s"""WITH newb AS (
         |  SELECT doc_id, text || ' tail tail' AS text FROM documents WHERE doc_id < 25
         |  UNION ALL
         |  SELECT doc_id, upper(text) AS text FROM documents
         |  WHERE doc_id >= 25 AND doc_id < 50
         |  UNION ALL
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 50 AND doc_id < 60),
         |nb AS (SELECT doc_id, sha256(text) AS h, sim FROM (
         |  SELECT doc_id, text,
         |         CAST(${SimHash.simhashOverThsSql(
                     SimHash.tokenHashListSql("string_split(text, ' ')"), 32)} AS BIGINT)
         |           AS sim
         |  FROM newb)),
         |cp AS (SELECT doc_id, sha256(text) AS h, sim FROM (
         |  SELECT doc_id, text,
         |         CAST(${SimHash.simhashOverThsSql(
                     SimHash.tokenHashListSql("string_split(text, ' ')"), 32)} AS BIGINT)
         |           AS sim
         |  FROM documents)),
         |ex AS (SELECT DISTINCT n.doc_id FROM nb n JOIN cp c ON n.h = c.h),
         |nr AS (SELECT DISTINCT n.doc_id FROM nb n JOIN cp c
         |       ON ${SimHash.hammingSql("n.sim", "c.sim", 32)} <= 5)
         |SELECT nb.doc_id, (ex.doc_id IS NOT NULL) AS is_exact_dup,
         |       (nr.doc_id IS NOT NULL) AS is_near_dup
         |FROM nb LEFT JOIN ex ON nb.doc_id = ex.doc_id
         |        LEFT JOIN nr ON nb.doc_id = nr.doc_id
         |ORDER BY nb.doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
      val newb = base.where(col("doc_id") < 25)
        .select(col("doc_id"), concat(col("text"), lit(" tail tail")).as("text"))
        .unionAll(base.where(col("doc_id") >= 25 && col("doc_id") < 50)
          .select(col("doc_id"), upper(col("text")).as("text")))
        .unionAll(base.where(col("doc_id") >= 50 && col("doc_id") < 60)
          .select(col("doc_id"), col("text")))
      def sig(df: org.apache.spark.sql.DataFrame) = df.select(col("doc_id"),
        sha2(col("text"), 256).as("h"),
        SimHash.simhash(split(col("text"), " ", -1), 32).as("sim"))
      val nb = sig(newb).persist()   // feeds exact join, 6 band views, output
      val cp = sig(base).persist()
      // 32 bits → bands of (6,6,5,5,5,5) at offsets (0,6,12,17,22,27): any
      // d ≤ 5 pair leaves ≥ 1 band intact (6 bands, 5 flips — pigeonhole)
      val bandSpec = Seq((0, 63L), (6, 63L), (12, 31L), (17, 31L), (22, 31L), (27, 31L))
      def bands(df: org.apache.spark.sql.DataFrame) = bandSpec.zipWithIndex.map {
        case ((off, mask), b) =>
          df.select(col("doc_id"), col("sim"), lit(b).as("band"),
            shiftright(col("sim"), off).bitwiseAND(mask).as("bkey"))
      }.reduce(_ unionAll _)
      val exact = nb.join(cp.select(col("h").as("ch")), col("h") === col("ch"),
          "left_semi").select(col("doc_id")).distinct()
        .withColumn("is_exact_dup", lit(true))
      val near = broadcast(bands(nb))
        .join(bands(cp).select(col("band"), col("bkey"), col("sim").as("csim")),
          Seq("band", "bkey"))
        .where(SimHash.hamming(col("sim"), col("csim"), 32) <= 5)
        .select(col("doc_id")).distinct()
        .withColumn("is_near_dup", lit(true))
      nb.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("is_exact_dup"), lit(false)).as("is_exact_dup"),
          coalesce(col("is_near_dup"), lit(false)).as("is_near_dup"))
        .orderBy("doc_id")
    },

    // Vocabulary build + integer encoding — the tokenizer-table step of an
    // LLM data pipeline: ids assigned by (count DESC, token) rank over the
    // corpus vocabulary, every document re-emitted as its id sequence.
    // Id assignment is the two-stage GlobalRank (range-partition → census →
    // per-partition zip), NOT a partition-less window: a web vocabulary is
    // 10⁷–10⁸ token types, too many for one WindowExec task. The oracle
    // keeps the plain row_number() formulation — the order is total
    // ((count, token) is unique), so the two evaluations are identical.
    // The encode side is an explode → broadcast-scale join on token →
    // per-doc ordered re-assembly.
    QueryDef("q116_vocab_encode",
      """WITH tok AS (SELECT doc_id, i, toks[i] AS token FROM (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |  FROM documents)),
        |vocab AS (SELECT token,
        |                 CAST(row_number() OVER (ORDER BY count(*) DESC, token) - 1
        |                      AS BIGINT) AS id
        |          FROM tok GROUP BY token)
        |SELECT doc_id, count(*) AS n_tokens,
        |       array_to_string(list(id ORDER BY i), ' ') AS ids
        |FROM tok JOIN vocab USING (token)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ", -1)).as(Seq("i", "token")))
        .persist()
      val vocab = graft.operators.GlobalRank.zipWithRank(
          tok.groupBy("token").agg(count(lit(1)).as("c")),
          Seq(col("c").desc, col("token")), idName = "id")
        .select(col("token"), col("id"))
      tok.join(broadcast(vocab), "token")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          array_join(transform(array_sort(collect_list(struct(col("i"), col("id")))),
            x => x.getField("id")), " ").as("ids"))
        .orderBy("doc_id")
    },

    // Within-document repetition score (Gopher/RefinedWeb-style quality
    // rule): the fraction of repeated 3-token shingles. Pure narrow
    // projection — array ops per row, no shuffle before the contract sort.
    QueryDef("q117_repetition",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |s AS (SELECT doc_id, ${MinHash.shingleHashesSql("toks")} AS sh
         |      FROM t WHERE len(toks) >= 3)
         |SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles,
         |       CAST(len(list_distinct(sh)) AS BIGINT) AS n_distinct,
         |       round(CAST(len(sh) - len(list_distinct(sh)) AS DOUBLE)
         |             / CAST(len(sh) AS DOUBLE), 6) AS rep_frac
         |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      val tokCol = split(col("text"), " ", -1)
      Tables.documents(s, d).where(size(tokCol) >= 3)
        .select(col("doc_id"), MinHash.shingleHashes(tokCol).as("sh"))
        .select(col("doc_id"),
          size(col("sh")).cast("long").as("n_shingles"),
          size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
        .withColumn("rep_frac",
          round((col("n_shingles") - col("n_distinct")).cast("double")
                / col("n_shingles").cast("double"), 6))
        .orderBy("doc_id")
    },

    // Streaming ingestion dedup (DocStreams.dedupedIngest) pinned in BATCH
    // mode — the identical transform the continuous flow runs (digest →
    // first-arrival dedup → stream-static anti-join vs corpus digests).
    // The arrival batch = modified near-dup copies + verbatim corpus rows +
    // within-batch re-arrivals (doc_id+1000 copies of the first ten), so
    // both dedup layers bite. A deterministic representative (min doc_id)
    // and arrival counts are re-attached for the oracle; StreamingSpec
    // proves micro-batched == batch on the surviving digest set.
    QueryDef("q119_ingest_dedup",
      """WITH newb AS (
        |  SELECT doc_id, text || ' tail tail' AS text FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id, upper(text) AS text FROM documents
        |  WHERE doc_id >= 25 AND doc_id < 50
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 50 AND doc_id < 60
        |  UNION ALL
        |  SELECT doc_id + 1000, text || ' tail tail' AS text FROM documents
        |  WHERE doc_id < 10),
        |agg AS (SELECT sha256(text) AS h, min(doc_id) AS doc_id,
        |               CAST(count(*) AS BIGINT) AS n_arrivals
        |        FROM newb GROUP BY 1)
        |SELECT doc_id, h, n_arrivals FROM agg
        |WHERE h NOT IN (SELECT DISTINCT sha256(text) FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
      val newb = base.where(col("doc_id") < 25)
        .select(col("doc_id"), concat(col("text"), lit(" tail tail")).as("text"))
        .unionAll(base.where(col("doc_id") >= 25 && col("doc_id") < 50)
          .select(col("doc_id"), upper(col("text")).as("text")))
        .unionAll(base.where(col("doc_id") >= 50 && col("doc_id") < 60)
          .select(col("doc_id"), col("text")))
        .unionAll(base.where(col("doc_id") < 10)
          .select((col("doc_id") + 1000L).as("doc_id"),
            concat(col("text"), lit(" tail tail")).as("text")))
      val fresh = graft.streaming.DocStreams.dedupedIngest(
        newb.withColumn("ingest_ts", timestamp_micros(col("doc_id") * 1000000L)),
        base)
      newb.select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .join(fresh.select("h"), Seq("h"), "left_semi")
        .groupBy("h")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_arrivals"))
        .select(col("doc_id"), col("h"), col("n_arrivals"))
        .orderBy("doc_id")
    },

    // Cross-document duplicated-SPAN coverage (the exact-substring dedup
    // signal of Lee et al. 2022, arXiv:2107.06499): a shingle occurring in
    // ≥ 2 distinct docs is duplicated; each hit covers tokens [pos, pos+2];
    // overlapping/touching hits merge into spans by an interval-union sweep
    // (prev-end running max → island ids → per-island extents). Differs
    // from q109, which counts duplicated POSITIONS — this measures merged
    // COVERAGE, the quantity substring dedup actually removes. Production
    // uses ~50-gram windows; the sweep algebra is width-independent.
    // Scale shape: census groupBy on the uniform shingle hash, hit
    // positions semi-joined back, and the per-doc window runs over HIT rows
    // only — the full token stream never enters a window.
    QueryDef("q122_dup_spans",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |d0 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |              ${MinHash.shingleHashesSql("toks")} AS sh FROM t),
         |${DupSpans.sweepSql(3)},
         |${DupSpans.coverageSql(3, "n_tokens")}""".stripMargin) {
      (s, d) =>
      val toks = split(col("text"), " ", -1)
      val d0 = Tables.documents(s, d).select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        MinHash.shingleHashes(toks).as("sh"))
      val s0 = d0.select(col("doc_id"),
        posexplode(col("sh")).as(Seq("pos", "shingle")))
      val dup = s0.groupBy("shingle").agg(countDistinct("doc_id").as("nd"))
        .where(col("nd") >= 2).select("shingle")
      val hit = s0.join(broadcast(dup), Seq("shingle"), "left_semi")
        .select("doc_id", "pos")
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val withIsland = hit
        .withColumn("prev_end", max(col("pos") + 2)
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("island",
          sum(when(col("prev_end").isNull || col("pos") > col("prev_end"), 1)
            .otherwise(0)).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      val covered = withIsland.groupBy("doc_id", "island")
        .agg((max("pos") + 2 - min("pos") + 1).as("cov"))
        .groupBy("doc_id").agg(sum("cov").as("covered"))
      d0.select("doc_id", "n_tokens")
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("covered"), lit(0L)).as("covered"),
          round(coalesce(col("covered"), lit(0L)).cast("double")
            / col("n_tokens"), 6).as("dup_frac"))
        .orderBy("doc_id")
    },

    // q122 at PRODUCTION span width: the Lee et al. setting is ~50-gram
    // windows, so the width-parameterized DupSpans operator runs at w=50
    // over the synthetic long-doc fixture (arithmetic-constructed on both
    // engines: an 80-token run common to all docs — wide enough to hit at
    // w=50 — and a 30-token parity-shared run that only sub-50 widths see).
    // The oracle replays fixture, w-gram fold hashing, census, and
    // interval-union sweep token for token.
    QueryDef("q124_dup_spans_w50", DupSpansW50Sql.sql) { (s, _) =>
      import graft.operators.DupSpans
      DupSpans.coverage(DupSpans.syntheticLongDocs(s), col("toks"), width = 50)
        .orderBy("doc_id")
    },

    // RELATIVE quality gate (the FineWeb/Gopher pattern): keep the top 90%
    // of each SOURCE by mean unigram log-prob, instead of one absolute
    // corpus-wide threshold — sources differ systematically (register,
    // vocabulary), so an absolute band over- or under-prunes per source.
    // Exactness: the per-token mean is slp_e6/nt computed as one IEEE
    // double division of identical integers — correctly rounded, so
    // bit-equal in any engine — ranked DESC with doc_id ties; the kept set
    // is rn·10 ≤ cnt·9 in pure integer arithmetic. Output is integers only
    // (the cutoff doc — the worst kept one — instead of its float score).
    // Shape: the LM scoring is q110's pipeline (one token exchange, census
    // broadcast back); the gate adds one window per source.
    QueryDef("q126_relative_quality",
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |freq AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |total AS (SELECT count(*) AS n FROM tok),
        |per AS (
        |  SELECT tok.doc_id, tok.source, count(*) AS nt,
        |         CAST(sum(CAST(round(ln(freq.c / (1.0 * total.n)) * 1000000, 0)
        |                  AS BIGINT)) AS BIGINT) AS slp
        |  FROM tok JOIN freq USING (token) CROSS JOIN total
        |  GROUP BY tok.doc_id, tok.source),
        |r AS (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY CAST(slp AS DOUBLE) / nt DESC, doc_id) AS rn,
        |         count(*) OVER (PARTITION BY source) AS cnt
        |  FROM per)
        |SELECT source, CAST(max(cnt) AS BIGINT) AS n_docs,
        |       CAST(count(*) FILTER (WHERE rn * 10 <= cnt * 9) AS BIGINT) AS n_kept,
        |       max(CASE WHEN rn * 10 <= cnt * 9
        |                 AND (rn + 1) * 10 > cnt * 9 THEN doc_id END) AS cutoff_doc
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ", -1)).as("token"))
        .persist() // feeds freq, total and the scoring join
      val freq = tok.groupBy("token").agg(count(lit(1)).as("c"))
      val total = broadcast(tok.agg(count(lit(1)).as("n")))
      val per = tok.join(freq, "token").crossJoin(total)
        .select(col("doc_id"), col("source"),
          round(log(col("c") / (lit(1.0) * col("n"))) * 1000000, 0)
            .cast("long").as("lp_e6"))
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("nt"), sum("lp_e6").as("slp"))
      val bySrc = Window.partitionBy("source")
      val r = per.select(col("doc_id"), col("source"),
        row_number().over(bySrc.orderBy(
          (col("slp").cast("double") / col("nt")).desc, col("doc_id"))).as("rn"),
        count(lit(1)).over(bySrc).as("cnt"))
      val kept = col("rn") * 10 <= col("cnt") * 9
      r.groupBy("source")
        .agg(max("cnt").as("n_docs"),
          count(when(kept, 1)).as("n_kept"),
          max(when(kept && (col("rn") + 1) * 10 > col("cnt") * 9,
            col("doc_id"))).as("cutoff_doc"))
        .orderBy("source")
    },

    // q122 closed into an ACTION: reconstruct every document with its
    // duplicated-span islands cut out (DupSpans.scrub — the surgery Lee et
    // al. apply to C4; remove-all policy, declared in the operator doc).
    // The oracle recomputes islands with q122's CTE pipeline and replays
    // the token surgery as a NOT EXISTS anti-join + ordered string_agg;
    // Spark does the same surgery row-locally with array HOFs after a
    // doc-level join of the (small) spans relation — no token-level join,
    // no window over the token stream. clean_text is hash-compared, so a
    // single off-by-one at any island boundary fails the gate.
    QueryDef("q128_span_scrub", SpanScrubSql.sql) { (s, d) =>
      DupSpans.scrub(Tables.documents(s, d), split(col("text"), " ", -1),
        width = 3)
        .orderBy("doc_id")
    },

    // PII redaction (operators/Redact): emails, IPv4s, phone-shaped digit
    // runs → typed placeholders, as a sequential regexp_replace fold
    // restricted to the Java∩RE2 regex subset so BOTH engines rewrite the
    // string identically — the redacted TEXT is hash-compared, not just
    // match counts. The input interleaves synthetic PII (pure doc_id
    // arithmetic, so the oracle constructs the identical string) with the
    // real document body, which must pass through untouched — the gate
    // catches false positives on clean text as well as missed matches.
    // Scale: narrow per-row rewrite at scan speed, no shuffle.
    QueryDef("q129_pii_redact", PiiSql.sql) { (s, d) =>
      val raw = concat(
        lit("contact user"), col("doc_id").cast("string"),
        lit("@mail"), pmod(col("doc_id"), lit(7)).cast("string"),
        lit(".example.com from 10."),
        pmod(col("doc_id"), lit(256)).cast("string"),
        lit(".0."), pmod(col("doc_id"), lit(100)).cast("string"),
        lit(" call 555-"),
        (pmod(col("doc_id"), lit(9000)) + 1000).cast("string"),
        lit(" :: "), col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          Redact.matchCount(raw, Redact.Email).as("n_email"),
          Redact.matchCount(raw, Redact.Ipv4).as("n_ip"),
          Redact.matchCount(raw, Redact.Phone).as("n_phone"),
          Redact.redact(raw).as("redacted"))
        .orderBy("doc_id")
    },

    // q128's remove-all policy replaced by Lee et al.'s actual surgery:
    // keep ONE occurrence of each duplicated span (the lexicographically
    // first (doc_id, start_pos) island per content fingerprint), cut the
    // rest (DupSpans.scrubKeepOne). The oracle replays island detection
    // (q128's CTEs), the per-island slice-fold fingerprint, the
    // representative window, and the keep-one surgery token for token —
    // clean_text is hash-compared, so electing the wrong representative or
    // cutting one extra token anywhere fails the gate.
    QueryDef("q133_scrub_keep_one", KeepOneSql.sql) { (s, d) =>
      DupSpans.scrubKeepOne(Tables.documents(s, d),
        split(col("text"), " ", -1), width = 3)
        .orderBy("doc_id")
    },

    // Count-Min sketch point queries (functions/CountMin — the second
    // TypedImperativeAggregate next to q107's Misra-Gries): depth×width
    // integer counter matrix, estimate = min over an item's depth cells.
    // Unlike MG the sketch is a SUM of one-hot updates, so it is
    // bit-identical under any partitioning — and its guarantees are the
    // checkable contract (the q54/q96 bound pattern): est ≥ true ALWAYS
    // (cells only over-count), and est ≤ true + 3·N/width asserted with
    // measured slack (expected overcount per row is N/width; min-of-4 rows
    // sits well under 3× that; measured max ≈ 1.1·N/width at sf0.01).
    // Integer compare (est−cnt)·width ≤ 3·N — no division, no rounding.
    // Probes are the exact top-5 tokens, deterministically elected
    // (count DESC, token) on both engines. Scale shape: one fixed-size
    // matrix per partition crosses the wire; the exact recount exists only
    // to state the contract.
    QueryDef("q134_count_min",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tok GROUP BY token),
        |t AS (SELECT count(*) AS n FROM tok)
        |SELECT token, cnt, TRUE AS lower_ok, TRUE AS upper_ok
        |FROM (SELECT token, cnt FROM ex ORDER BY cnt DESC, token LIMIT 5), t
        |ORDER BY cnt DESC, token""".stripMargin) { (s, d) =>
      val (depth, width) = (4, 512)
      val tok = Tables.documents(s, d)
        .select(explode(split(col("text"), " ", -1)).as("token"))
        .persist() // feeds the sketch, the exact counts, and the total
      val sk = tok.agg(CountMin.sketch(col("token"), depth, width).as("sk"))
      val total = tok.agg(count(lit(1)).as("n"))
      val top = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(5)
      val est = CountMin.estimate(col("sk"), col("token"), depth, width)
      top.crossJoin(broadcast(sk)).crossJoin(broadcast(total))
        .select(col("token"), col("cnt"),
          (est >= col("cnt")).as("lower_ok"),
          ((est - col("cnt")) * width <= lit(3L) * col("n")).as("upper_ok"))
        .orderBy(col("cnt").desc, col("token"))
    },

    // Streaming Count-Min — q134's sketch maintained by a REAL complete-mode
    // streaming aggregation (the q135 AvailableNow-inside-the-query pattern):
    // the token stream lands as a multi-file parquet directory, an
    // AvailableNow query with maxFilesPerTrigger=1 folds it through the
    // TypedImperativeAggregate's state-store serialize/merge path across
    // several micro-batches, and the final matrix must equal the batch
    // sketch CELL FOR CELL (the sketch is a sum of one-hot updates —
    // commutative integer adds, so ANY micro-batch slicing is exact). A
    // dropped or double-committed micro-batch, or any state-serialization
    // drift, flips `stream_eq_batch` and with it the hash. Bound columns
    // (q134's contract) are evaluated against the STREAMED matrix. Scale
    // shape: the stream carries O(depth·width) state regardless of corpus
    // size — the continuous analogue of q134's one-exchange census.
    QueryDef("q161_stream_count_min",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tok GROUP BY token),
        |t AS (SELECT count(*) AS n FROM tok)
        |SELECT token, cnt, TRUE AS lower_ok, TRUE AS upper_ok,
        |       TRUE AS stream_eq_batch
        |FROM (SELECT token, cnt FROM ex ORDER BY cnt DESC, token LIMIT 5), t
        |ORDER BY cnt DESC, token""".stripMargin) { (s, d) =>
      val (depth, width) = (4, 512)
      // result reads only the memory sink + source parquet, so the landing
      // dir deletes at query exit (playbook #41; no localCheckpoint needed)
      Scratch.run(s, "graft_cms_stream_q_") { root =>
        val tok = Tables.documents(s, d)
          .select(explode(split(col("text"), " ", -1)).as("token"))
          .persist() // feeds the landing write, the exact counts, the total,
                     // and the batch-parity sketch
        tok.repartition(4).write.parquet(s"$root/landing")
        val stream = s.readStream
          .schema(new org.apache.spark.sql.types.StructType()
            .add("token", org.apache.spark.sql.types.StringType))
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
          .agg(CountMin.sketch(col("token"), depth, width).as("sk"))
        val streamedSk = Drain.toMemory(stream, s"$root/ckpt", "complete")
        val batchSk = tok.agg(CountMin.sketch(col("token"), depth, width).as("bsk"))
        val total = tok.agg(count(lit(1)).as("n"))
        val top = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("token")).limit(5)
        val est = CountMin.estimate(col("sk"), col("token"), depth, width)
        top.crossJoin(broadcast(streamedSk)).crossJoin(broadcast(total))
          .crossJoin(broadcast(batchSk))
          .select(col("token"), col("cnt"),
            (est >= col("cnt")).as("lower_ok"),
            ((est - col("cnt")) * width <= lit(3L) * col("n")).as("upper_ok"),
            (col("sk") === col("bsk")).as("stream_eq_batch"))
          .orderBy(col("cnt").desc, col("token"))
      }
    },

    // Streaming Misra-Gries — q107's heavy-hitters summary maintained by a
    // REAL complete-mode streaming aggregation over the landed token stream
    // (the q161 harness, different sketch family). Unlike Count-Min the MG
    // candidate SET is merge-order-dependent at the borderline, so
    // stream ≡ batch is NOT the statable contract; the GUARANTEE is (Agarwal
    // et al., PODS'12: merged summaries keep error ≤ N/(k+1)): every token
    // with exact count > N/(k+1) must be among the ≤ k streamed candidates,
    // whatever micro-batch slicing the state-store path took. k = 49 makes
    // the guaranteed set 30 tokens on the fixtures — a real assertion, not a
    // vacuous one. Scale shape: O(k) state regardless of stream length, the
    // continuous analogue of q107's one-exchange census.
    QueryDef("q172_stream_misra_gries",
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |ex AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
        |       FROM tok GROUP BY token),
        |t AS (SELECT count(*) AS n FROM tok)
        |SELECT token, cnt, TRUE AS in_sketch, TRUE AS size_ok
        |FROM ex, t WHERE cnt * 50 > n
        |ORDER BY cnt DESC, token""".stripMargin) { (s, d) =>
      val k = 49
      // result reads only the memory sink + source parquet, so the landing
      // dir deletes at query exit (playbook #41; no localCheckpoint needed)
      Scratch.run(s, "graft_mg_stream_q_") { root =>
        val tok = Tables.documents(s, d)
          .select(explode(split(col("text"), " ", -1)).as("token"))
          .persist() // feeds the landing write, the exact counts, and the total
        tok.repartition(4).write.parquet(s"$root/landing")
        val stream = s.readStream
          .schema(new org.apache.spark.sql.types.StructType()
            .add("token", org.apache.spark.sql.types.StringType))
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
          .agg(MisraGries.candidates(col("token"), k).as("cands"))
        val streamedCands = Drain.toMemory(stream, s"$root/ckpt", "complete")
        val total = tok.agg(count(lit(1)).as("n"))
        val exact = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
        exact.crossJoin(broadcast(total))
          .where(col("cnt") * (k + 1) > col("n"))
          .crossJoin(broadcast(streamedCands))
          .select(col("token"), col("cnt"),
            array_contains(col("cands"), col("token")).as("in_sketch"),
            (size(col("cands")) <= k).as("size_ok"))
          .orderBy(col("cnt").desc, col("token"))
      }
    },

    // Streaming HLL distinct counts — the third sketch family through the
    // q161 harness, and the strongest statable contract of the three:
    // HyperLogLog++ merge is a register-wise MAX (commutative, associative,
    // idempotent), so the streamed estimate must equal the batch estimate
    // EXACTLY under any micro-batch slicing — asserted per source alongside
    // q54's relative-error bound against the exact distinct count. Scale
    // shape: O(registers) state per group however long the stream runs —
    // the continuous form of the cardinality census every ingest wants.
    QueryDef("q179_stream_hll",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents)
        |SELECT source, CAST(count(DISTINCT token) AS BIGINT) AS exact_tokens,
        |       TRUE AS within_bound, TRUE AS stream_eq_batch
        |FROM tok GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      // result reads only the memory sink + source parquet, so the landing
      // dir deletes at query exit (playbook #41; no localCheckpoint needed)
      Scratch.run(s, "graft_hll_stream_q_") { root =>
        val tok = Tables.documents(s, d)
          .select(col("source"), explode(split(col("text"), " ", -1)).as("token"))
          .persist() // feeds the landing write, the exact counts, the batch twin
        tok.repartition(4).write.parquet(s"$root/landing")
        val stream = s.readStream
          .schema(new org.apache.spark.sql.types.StructType()
            .add("source", org.apache.spark.sql.types.StringType)
            .add("token", org.apache.spark.sql.types.StringType))
          .option("maxFilesPerTrigger", 1).parquet(s"$root/landing")
          .groupBy("source")
          .agg(approx_count_distinct(col("token"), 0.02).as("approx_tokens"))
        val streamed = Drain.toMemory(stream, s"$root/ckpt", "complete")
        val batch = tok.groupBy("source")
          .agg(approx_count_distinct(col("token"), 0.02).as("batch_approx"),
            countDistinct(col("token")).as("exact_tokens"))
        batch.join(streamed, "source")
          .select(col("source"), col("exact_tokens"),
            (abs(col("approx_tokens") - col("exact_tokens")).cast("double")
              / col("exact_tokens") <= lit(0.08)).as("within_bound"),
            (col("approx_tokens") === col("batch_approx")).as("stream_eq_batch"))
          .orderBy("source")
      }
    },

    // Tokenizer-coverage / OOV-rate report: elect a capped top-256
    // vocabulary (count DESC, token — a TakeOrderedAndProject, never a
    // global sort), broadcast it onto the token stream, and report per
    // source how much of the corpus it covers — the go/no-go metric for
    // freezing a vocab (q116) or a BPE merge table (q132) before an
    // expensive training run. Coverage is one correctly-rounded IEEE
    // division of identical integers (the q122 dup_frac pattern). Scale
    // shape: one token exchange for the census; the stream-side join is
    // against a broadcast K-row set.
    QueryDef("q138_vocab_coverage",
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS token
        |             FROM documents),
        |vocab AS (SELECT token FROM (
        |  SELECT token, count(*) AS c FROM tok GROUP BY token
        |  ORDER BY c DESC, token LIMIT 256)),
        |j AS (SELECT source,
        |        CASE WHEN token IN (SELECT token FROM vocab)
        |             THEN 1 ELSE 0 END AS hit
        |      FROM tok)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(sum(hit) AS BIGINT) AS in_vocab,
        |       CAST(count(*) - sum(hit) AS BIGINT) AS n_oov,
        |       round(CAST(sum(hit) AS DOUBLE) / count(*), 6) AS coverage
        |FROM j GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val tok = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ", -1)).as("token"))
        .persist() // feeds the census and the coverage join
      val vocab = tok.groupBy("token").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("token")).limit(256)
        .select(col("token"), lit(1).as("hit"))
      tok.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_tokens"),
          count(col("hit")).as("in_vocab"),
          (count(lit(1)) - count(col("hit"))).as("n_oov"),
          round(count(col("hit")).cast("double") / count(lit(1)), 6)
            .as("coverage"))
        .orderBy("source")
    },

    // Quality-GATED continuous ingestion (DocStreams.curatedIngest): q119's
    // arrival batch first passes the row-local ingest gate (≥ 3 tokens AND
    // stopword ratio ≥ 5%, integer cross-multiplied) before either dedup
    // layer — rejected docs never enter dedup state. The gate is
    // deliberately row-local (corpus-relative LM gates belong in batch
    // compaction, q110/q126); that is exactly what keeps the composition
    // streamable in append mode with zero state beyond the dedup horizon.
    // Pinned here in batch mode (the identical transform the stream runs);
    // StreamingSpec proves micro-batched ≡ batch including the gate.
    QueryDef("q140_curated_ingest",
      """WITH newb AS (
        |  SELECT doc_id, text || ' tail tail' AS text FROM documents WHERE doc_id < 25
        |  UNION ALL
        |  SELECT doc_id, upper(text) AS text FROM documents
        |  WHERE doc_id >= 25 AND doc_id < 50
        |  UNION ALL
        |  SELECT doc_id, text FROM documents WHERE doc_id >= 50 AND doc_id < 60
        |  UNION ALL
        |  SELECT doc_id + 1000, text || ' tail tail' AS text FROM documents
        |  WHERE doc_id < 10),
        |g AS (SELECT doc_id, text FROM (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM newb)
        |  WHERE len(toks) >= 3
        |    AND len(list_filter(toks,
        |          x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 20 >= len(toks)),
        |agg AS (SELECT sha256(text) AS h, min(doc_id) AS doc_id,
        |               CAST(count(*) AS BIGINT) AS n_arrivals
        |        FROM g GROUP BY 1)
        |SELECT doc_id, h, n_arrivals FROM agg
        |WHERE h NOT IN (SELECT DISTINCT sha256(text) FROM documents)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.streaming.DocStreams
      val base = Tables.documents(s, d)
      val newb = base.where(col("doc_id") < 25)
        .select(col("doc_id"), concat(col("text"), lit(" tail tail")).as("text"))
        .unionAll(base.where(col("doc_id") >= 25 && col("doc_id") < 50)
          .select(col("doc_id"), upper(col("text")).as("text")))
        .unionAll(base.where(col("doc_id") >= 50 && col("doc_id") < 60)
          .select(col("doc_id"), col("text")))
        .unionAll(base.where(col("doc_id") < 10)
          .select((col("doc_id") + 1000L).as("doc_id"),
            concat(col("text"), lit(" tail tail")).as("text")))
      val fresh = DocStreams.curatedIngest(
        newb.withColumn("ingest_ts", timestamp_micros(col("doc_id") * 1000000L)),
        base)
      newb.where(DocStreams.ingestQualityGate(col("text")))
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .join(fresh.select("h"), Seq("h"), "left_semi")
        .groupBy("h")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_arrivals"))
        .select(col("doc_id"), col("h"), col("n_arrivals"))
        .orderBy("doc_id")
    },

    // DSIR importance resampling (Xie et al. 2023, operators/Dsir): tilt
    // the raw corpus toward a target domain (src0 here) by hashed-unigram
    // bag-of-features log-likelihood ratio, keep the top-k. Both feature
    // models collapse to 64 bucket rows → the log-ratio table broadcasts;
    // per-occurrence ratios are integer 1e-6 units so the per-doc sum is
    // exact; selection is TakeOrderedAndProject. The oracle replays the
    // bucket hash (tokenHashSql twin), both smoothed models, and the same
    // quantized ratio — a one-token drift anywhere flips the hash.
    QueryDef("q144_dsir_select",
      s"""WITH tok AS (
         |  SELECT doc_id, source = 'src0' AS is_target,
         |         ${Hashes.tokenHashSql("token")} % 64 AS b
         |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
         |        FROM documents)),
         |rc AS (SELECT b, count(*) AS rc FROM tok GROUP BY b),
         |tc AS (SELECT b, count(*) AS tc FROM tok WHERE is_target GROUP BY b),
         |nr AS (SELECT count(*) AS nr FROM tok),
         |nt AS (SELECT count(*) AS nt FROM tok WHERE is_target),
         |ratio AS (
         |  SELECT rc.b,
         |         CAST(round((ln(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE)
         |                       / CAST(nt.nt + 64 AS DOUBLE))
         |                   - ln(CAST(rc.rc + 1 AS DOUBLE)
         |                       / CAST(nr.nr + 64 AS DOUBLE))) * 1000000, 0)
         |           AS BIGINT) AS lr_e6
         |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN nr CROSS JOIN nt),
         |scored AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         CAST(sum(lr_e6) AS BIGINT) AS w_e6
         |  FROM tok JOIN ratio USING (b) GROUP BY doc_id)
         |SELECT doc_id, n_tokens, w_e6
         |FROM scored ORDER BY w_e6 DESC, doc_id LIMIT 50""".stripMargin) { (s, d) =>
      graft.operators.Dsir.select(
        Tables.documents(s, d), col("source") === "src0", buckets = 64, k = 50)
    },

    // DSIR's actual sampler (Dsir.gumbelSample): Gumbel-top-k over the
    // q144 log-weights — sampling k docs without replacement with
    // P ∝ exp(w) ≡ top-k of w + Gumbel(0,1) (Vieira 2014). The Gumbel draw
    // is the salted-hash u ∈ (0,1) strictly, −ln(−ln u) replayed by the
    // oracle; keys quantize to 1e-9 with doc_id tiebreak; selection stays
    // TakeOrderedAndProject — noise is a projection, never a shuffle.
    QueryDef("q145_dsir_sample",
      s"""WITH tok AS (
         |  SELECT doc_id, source = 'src0' AS is_target,
         |         ${Hashes.tokenHashSql("token")} % 64 AS b
         |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
         |        FROM documents)),
         |rc AS (SELECT b, count(*) AS rc FROM tok GROUP BY b),
         |tc AS (SELECT b, count(*) AS tc FROM tok WHERE is_target GROUP BY b),
         |nr AS (SELECT count(*) AS nr FROM tok),
         |nt AS (SELECT count(*) AS nt FROM tok WHERE is_target),
         |ratio AS (
         |  SELECT rc.b,
         |         CAST(round((ln(CAST(coalesce(tc.tc, 0) + 1 AS DOUBLE)
         |                       / CAST(nt.nt + 64 AS DOUBLE))
         |                   - ln(CAST(rc.rc + 1 AS DOUBLE)
         |                       / CAST(nr.nr + 64 AS DOUBLE))) * 1000000, 0)
         |           AS BIGINT) AS lr_e6
         |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN nr CROSS JOIN nt),
         |scored AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         CAST(sum(lr_e6) AS BIGINT) AS w_e6
         |  FROM tok JOIN ratio USING (b) GROUP BY doc_id),
         |g AS (
         |  SELECT doc_id, n_tokens, w_e6,
         |         CAST(round((CAST(w_e6 AS DOUBLE) / 1000000
         |             - ln(-ln((${Hashes.mulHashSql("doc_id", 91)} + 1)
         |                      / CAST(${Hashes.Prime + 2} AS DOUBLE)))) * 1000000000, 0)
         |           AS BIGINT) AS gkey_e9
         |  FROM scored)
         |SELECT doc_id, n_tokens, w_e6, gkey_e9
         |FROM g ORDER BY gkey_e9 DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
      graft.operators.Dsir.gumbelSample(
        Tables.documents(s, d), col("source") === "src0",
        buckets = 64, k = 25, seed = 91)
    },

    // EXACT-substring duplicated-span coverage (DupSpans.coverageExact):
    // q122's algebra with the census keyed on the LITERAL token windows
    // (U+0001-joined, one codegen kernel pass) instead of their fold hashes
    // — Lee et al.'s ExactSubstr guarantee: zero hash-collision false
    // positives, for scrubbing where a collision is a correctness bug
    // (legal/compliance removal), at the cost of shuffling w-token string
    // keys. The oracle replays the identical exact keys, so a single
    // separator slip or off-by-one window anywhere flips the hash. At web
    // scale the exchange key would be (hash(window), window) — same single
    // shuffle, collision-free verification included.
    QueryDef("q141_exact_spans",
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |d0 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |              ${DupSpans.windowKeysSql("toks", 3)} AS sh FROM t),
         |${DupSpans.sweepSql(3)},
         |${DupSpans.coverageSql(3, "n_tokens")}""".stripMargin) {
      (s, d) =>
      DupSpans.coverageExact(Tables.documents(s, d),
        split(col("text"), " ", -1), width = 3)
        .orderBy("doc_id")
    },

    // BYTE-level exact-substring duplicated coverage (DupSpans
    // .coverageChars): Lee et al.'s ExactSubstr operates on raw bytes, not
    // tokens (arXiv:2107.06499 §3.1) — byte duplicates can TOKENIZE
    // differently (punctuation glued to a word, prefix noise, whitespace
    // variants), and then no token-window census at ANY width sees them
    // (CurationSpec pins a concrete miss). Every char offset opens a
    // literal width-30 substring key; census → hit → interval sweep are
    // q141's machinery with positions in char units. Content-anchored
    // sampling (keep a window iff its hash ≡ 0 mod s — Manber 1994) is the
    // 100 TB census-thinning knob, shift-proof where a position stride is
    // not; the oracle replays the identical windows, so an off-by-one in
    // the substring arithmetic or sweep flips the hash.
    QueryDef("q160_byte_spans",
      s"""WITH d0 AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
         |              ${DupSpans.charWindowKeysSql("text", 30)} AS sh
         |            FROM documents),
         |${DupSpans.sweepSql(30)},
         |${DupSpans.coverageSql(30, "n_chars")}""".stripMargin) {
      (s, d) =>
      DupSpans.coverageChars(Tables.documents(s, d), col("text"), width = 30)
        .orderBy("doc_id")
    },

    // URL canonicalization + URL-level dedup (operators/UrlCanon): the
    // cheapest dedup layer a web pipeline runs FIRST — two crawls of one
    // page differ in tracking params / fragment / default port / www /
    // trailing slash before their text does. The fixture derives messy
    // URL variants from doc_id (case noise, WWW., :80/:443 sometimes
    // default sometimes not, trailing slash, utm_*/ref params, fragment);
    // canonicalization must collapse exactly the identity-irrelevant
    // noise: ~doc_id mod 60 canonical classes survive. The oracle replays
    // the same regex steps (Java∩RE2 subset) and hashes the canonical
    // STRING itself, so a single mis-ordered step or over-eager strip
    // flips the hash. Scale: row-local rewriting + one uniform-key groupBy.
    QueryDef("q146_url_dedup",
      s"""WITH raw AS (SELECT doc_id,
         |  CASE WHEN doc_id % 3 = 0 THEN 'http'
         |       WHEN doc_id % 3 = 1 THEN 'HTTP' ELSE 'https' END
         |  || '://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END
         |  || 'Site' || CAST(doc_id % 3 AS VARCHAR) || '.Example.COM'
         |  || CASE WHEN doc_id % 5 = 0 THEN ':80'
         |          WHEN doc_id % 5 = 1 THEN ':443' ELSE '' END
         |  || '/Docs/p' || CAST(doc_id % 4 AS VARCHAR)
         |  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
         |  || '?utm_source=feed&id=' || CAST(doc_id % 5 AS VARCHAR)
         |  || CASE WHEN doc_id % 4 = 0 THEN '&ref=rss' ELSE '' END
         |  || '&utm_campaign=Spring'
         |  || CASE WHEN doc_id % 3 = 0 THEN '#sec-2' ELSE '' END AS url
         |  FROM documents),
         |${UrlCanon.canonicalSqlCtes("raw", "doc_id", "url")}
         |SELECT canonical_url, min(doc_id) AS keeper_doc,
         |       CAST(count(*) AS BIGINT) AS n_variants
         |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin) { (s, d) =>
      val id = col("doc_id")
      val url = concat(
        when(id % 3 === 0, lit("http")).when(id % 3 === 1, lit("HTTP"))
          .otherwise(lit("https")),
        lit("://"),
        when(id % 2 === 0, lit("WWW.")).otherwise(lit("")),
        lit("Site"), (id % 3).cast("string"), lit(".Example.COM"),
        when(id % 5 === 0, lit(":80")).when(id % 5 === 1, lit(":443"))
          .otherwise(lit("")),
        lit("/Docs/p"), (id % 4).cast("string"),
        when(id % 2 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&id="), (id % 5).cast("string"),
        when(id % 4 === 0, lit("&ref=rss")).otherwise(lit("")),
        lit("&utm_campaign=Spring"),
        when(id % 3 === 0, lit("#sec-2")).otherwise(lit("")))
      UrlCanon.dedup(
          Tables.documents(s, d).select(col("doc_id"), url.as("url")),
          "doc_id", "url")
        .orderBy("canonical_url")
    },

    // Classifier-based quality filtering (the CCNet / GPT-3 move): fit a
    // logistic regression on hashed bag-of-words features (8 token-hash
    // buckets, normalized counts) against a "reference-quality" label
    // (source ∈ src0..src3), then score every document with the frozen
    // weights and gate at 0.5. Training is operators/LogisticGD — two
    // one-pass integer-quantized full-batch rounds, weights on a 1e-9
    // grid — so the oracle replays fit AND scoring exactly via unrolled
    // CTEs (the q103 pattern generalized to 8 features). The keep gate
    // compares integer score units (q > 500000), never raw doubles.
    // Scale: rounds × one aggregate pass; scoring is a row-local
    // expression with plan-embedded weight literals — no join, no shuffle
    // beyond the final per-source aggregate.
    QueryDef("q150_quality_classifier", QualityLrSql.sql) { (s, d) =>
      import graft.operators.LogisticGD
      val docs = Tables.documents(s, d)
      val toks = split(col("text"), " ", -1)
      val nTok = size(toks).cast("double")
      val feats: Seq[Column] = (0 until QualityLrSql.Buckets).map { k =>
        size(filter(toks, t => Hashes.tokenHash(t) % QualityLrSql.Buckets === k))
          .cast("double") / nTok
      }
      val label = when(col("source").isin(QualityLrSql.GoodSources: _*), 1.0)
        .otherwise(0.0)
      val wts = LogisticGD.fit(docs, feats, label,
        lr = QualityLrSql.Lr, iters = QualityLrSql.Iters)
      val z = feats.zip(wts.w).foldLeft(lit(wts.bias): Column) {
        case (acc, (f, wi)) => acc + f * lit(wi)
      }
      val score = lit(1.0) / (lit(1.0) + exp(-z))
      docs.select(col("source"), round(score * 1e6, 0).cast("long").as("q"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          (round(sum("q").cast("double") / count(lit(1)) / 1e6, 6) + lit(0.0))
            .as("mean_score"),
          count(when(col("q") > 500000, 1)).as("n_keep"))
        .orderBy("source")
    },

    // Moderated continuous ingestion: quality gate ∧ Aho–Corasick blocklist
    // gate → dedup (DocStreams.moderatedIngest) — q140's ingest edge with
    // content moderation composed in. Both gates are row-local (the
    // automaton is plan-embedded), so the composition stays streamable in
    // append mode with zero extra state and blocked documents never enter
    // dedup state. Pinned in batch mode; StreamingSpec proves micro-batch
    // ≡ batch including both gates. The oracle states the blocklist as
    // per-pattern NOT contains — presence/absence, where overlapping vs
    // non-overlapping counting cannot differ, so no border caveat applies.
    QueryDef("q152_moderated_ingest",
      s"""WITH newb AS (
         |  SELECT doc_id, text || ' tail tail' AS text FROM documents WHERE doc_id < 25
         |  UNION ALL
         |  SELECT doc_id, upper(text) AS text FROM documents
         |  WHERE doc_id >= 25 AND doc_id < 50
         |  UNION ALL
         |  SELECT doc_id, text FROM documents WHERE doc_id >= 50 AND doc_id < 60
         |  UNION ALL
         |  SELECT doc_id + 1000, text || ' tail tail' AS text FROM documents
         |  WHERE doc_id < 10),
         |g AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text, string_split(text, ' ') AS toks FROM newb)
         |  WHERE len(toks) >= 3
         |    AND len(list_filter(toks,
         |          x -> x IN ('the', 'a', 'of', 'and', 'to'))) * 20 >= len(toks)
         |    ${ModeratedSql.blockPredSql("text")}),
         |agg AS (SELECT sha256(text) AS h, min(doc_id) AS doc_id,
         |               CAST(count(*) AS BIGINT) AS n_arrivals
         |        FROM g GROUP BY 1)
         |SELECT doc_id, h, n_arrivals FROM agg
         |WHERE h NOT IN (SELECT DISTINCT sha256(text) FROM documents)
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      import graft.streaming.DocStreams
      val base = Tables.documents(s, d)
      val newb = base.where(col("doc_id") < 25)
        .select(col("doc_id"), concat(col("text"), lit(" tail tail")).as("text"))
        .unionAll(base.where(col("doc_id") >= 25 && col("doc_id") < 50)
          .select(col("doc_id"), upper(col("text")).as("text")))
        .unionAll(base.where(col("doc_id") >= 50 && col("doc_id") < 60)
          .select(col("doc_id"), col("text")))
        .unionAll(base.where(col("doc_id") < 10)
          .select((col("doc_id") + 1000L).as("doc_id"),
            concat(col("text"), lit(" tail tail")).as("text")))
      val fresh = DocStreams.moderatedIngest(
        newb.withColumn("ingest_ts", timestamp_micros(col("doc_id") * 1000000L)),
        base, ModeratedSql.Blocklist)
      newb.where(DocStreams.ingestQualityGate(col("text")) &&
          DocStreams.blocklistGate(col("text"), ModeratedSql.Blocklist))
        .select(col("doc_id"), sha2(col("text"), 256).as("h"))
        .join(fresh.select("h"), Seq("h"), "left_semi")
        .groupBy("h")
        .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_arrivals"))
        .select(col("doc_id"), col("h"), col("n_arrivals"))
        .orderBy("doc_id")
    },

    // Split STABILITY under corpus growth — the dataset-versioning property
    // behind the hash-split design (SURVEY §2 row 17): when a new batch
    // lands, a salted-hash split NEVER reassigns an existing document
    // (assignment is a pure function of the key), while shuffle-then-slice
    // (rank-percent) splits reshuffle ranks and leak documents across the
    // train/test boundary — silent test-set contamination on every corpus
    // refresh. Both methods run on the old corpus and the grown corpus;
    // the contract counts reassignments: hash = 0 by construction, rank > 0,
    // and BOTH engines must agree on the exact counts. The rank leg uses
    // the two-stage GlobalRank zip (no partition-less window); percent
    // slicing compares integers (r·100 < n·64), never fractions.
    QueryDef("q158_split_stability", {
      import graft.functions.Hashes
      import graft.operators.Split
      def rankCtes(src: String, tag: String) =
        s"""r_$tag AS (SELECT doc_id,
           |    row_number() OVER (ORDER BY ${Hashes.mulHashSql("doc_id", 7)},
           |      doc_id) - 1 AS r,
           |    count(*) OVER () AS n FROM $src),
           |s_$tag AS (SELECT doc_id,
           |    CASE WHEN r * 100 < n * 64 THEN 'train'
           |         WHEN r * 100 < n * 80 THEN 'valid' ELSE 'test' END AS sp
           |  FROM r_$tag)""".stripMargin
      s"""WITH old AS (SELECT doc_id FROM documents WHERE doc_id % 10 <> 0),
         |ho AS (SELECT doc_id, ${Split.assignSplitSql("doc_id", 21)} AS sp
         |       FROM old),
         |hn AS (SELECT doc_id, ${Split.assignSplitSql("doc_id", 21)} AS sp
         |       FROM documents),
         |${rankCtes("old", "o")},
         |${rankCtes("documents", "n")}
         |SELECT method, CAST(n_docs AS BIGINT) AS n_docs,
         |       CAST(n_reassigned AS BIGINT) AS n_reassigned FROM (
         |  SELECT 'hash' AS method, count(*) AS n_docs,
         |         count(CASE WHEN ho.sp <> hn.sp THEN 1 END) AS n_reassigned
         |  FROM ho JOIN hn USING (doc_id)
         |  UNION ALL
         |  SELECT 'rank', count(*),
         |         count(CASE WHEN s_o.sp <> s_n.sp THEN 1 END)
         |  FROM s_o JOIN s_n USING (doc_id))
         |ORDER BY method""".stripMargin
    }) { (s, d) =>
      import graft.operators.{GlobalRank, Split}
      val all = Tables.documents(s, d).select(col("doc_id"))
      val old = all.where(col("doc_id") % 10 =!= 0)
      def hashSplit(df: org.apache.spark.sql.DataFrame) =
        df.select(col("doc_id"), Split.assignSplit(col("doc_id"), 21).as("sp"))
      def rankSplit(df: org.apache.spark.sql.DataFrame) = {
        val ranked = GlobalRank.zipWithRank(
          df.select(col("doc_id"), Hashes.mulHash(col("doc_id"), 7).as("h")),
          Seq(col("h"), col("doc_id")), idName = "r")
        ranked.crossJoin(broadcast(df.agg(count(lit(1)).as("n"))))
          .select(col("doc_id"),
            when(col("r") * 100 < col("n") * 64, "train")
              .when(col("r") * 100 < col("n") * 80, "valid")
              .otherwise("test").as("sp"))
      }
      def reassigned(o: org.apache.spark.sql.DataFrame,
                     n: org.apache.spark.sql.DataFrame, method: String) =
        o.join(n.withColumnRenamed("sp", "sp_new"), "doc_id")
          .agg(lit(method).as("method"), count(lit(1)).as("n_docs"),
            count(when(col("sp") =!= col("sp_new"), 1)).as("n_reassigned"))
          .select("method", "n_docs", "n_reassigned")
      reassigned(hashSplit(old), hashSplit(all), "hash")
        .unionAll(reassigned(rankSplit(old), rankSplit(all), "rank"))
        .orderBy("method")
    },

    // The Gopher repetition-rule family (Rae et al. 2021 §A1.1, token-soup
    // edition): per document, the token fraction claimed by the MOST COMMON
    // 2/3/4-gram and the union coverage of within-doc duplicated 5-grams,
    // plus the conjunctive keep gate. The three top-n censuses ride ONE
    // tagged union of the shingle stream (one exchange keyed on
    // (doc, n, shingle)); the 5-gram coverage reuses q122's interval-union
    // sweep with a within-doc census; the gate is pure integer arithmetic
    // (e.g. top2 < 0.2 ⟺ 10·maxc < nt), so no double comparison can
    // disagree across engines.
    QueryDef("q151_gopher_rules", GopherSql.sql) { (s, d) =>
      import graft.operators.DupSpans
      val toks = split(col("text"), " ", -1)
      val base = Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"), size(toks).cast("long").as("nt"))
      val shUnion = Seq(2, 3, 4).map { n =>
        base.select(col("doc_id"), lit(n).as("n"),
          explode(DupSpans.shingleHashes(col("toks"), n)).as("sh"))
      }.reduce(_ unionAll _)
      val top = shUnion
        .groupBy(col("doc_id"), col("n"), col("sh")).agg(count(lit(1)).as("c"))
        .groupBy("doc_id", "n").agg(max("c").as("maxc"))
        .groupBy("doc_id").agg(
          max(when(col("n") === 2, col("maxc"))).as("max2"),
          max(when(col("n") === 3, col("maxc"))).as("max3"),
          max(when(col("n") === 4, col("maxc"))).as("max4"))
      val s5 = base.select(col("doc_id"),
        posexplode(DupSpans.shingleHashes(col("toks"), 5)).as(Seq("pos", "sh")))
      val dup5 = s5.groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
        .where(col("c") >= 2).select("doc_id", "sh")
      val hit = s5.join(dup5, Seq("doc_id", "sh"), "left_semi")
        .select("doc_id", "pos")
      val wOrd = Window.partitionBy("doc_id").orderBy("pos")
      val cov = hit
        .withColumn("prev_end", max(col("pos") + 4)
          .over(wOrd.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("island",
          sum(when(col("prev_end").isNull || col("pos") > col("prev_end"), 1)
            .otherwise(0)).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("doc_id", "island")
        .agg((max("pos") + 4 - min("pos") + 1).as("c"))
        .groupBy("doc_id").agg(sum("c").as("cov5"))
      def frac(c: Column, mult: Int, nt: Column): Column =
        round((c * mult).cast("double") / nt.cast("double"), 6)
      base.select("doc_id", "nt")
        .join(top, Seq("doc_id"), "left")
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("nt").as("n_tokens"),
          coalesce(col("max2"), lit(0L)).as("m2"),
          coalesce(col("max3"), lit(0L)).as("m3"),
          coalesce(col("max4"), lit(0L)).as("m4"),
          coalesce(col("cov5"), lit(0L)).cast("long").as("c5"), col("nt"))
        .select(col("doc_id"), col("n_tokens"),
          frac(col("m2"), 2, col("nt")).as("top2_frac"),
          frac(col("m3"), 3, col("nt")).as("top3_frac"),
          frac(col("m4"), 4, col("nt")).as("top4_frac"),
          frac(col("c5"), 1, col("nt")).as("dup5_frac"),
          (col("m2") * 10 < col("nt") && col("m3") * 50 < col("nt") * 3 &&
            col("m4") * 25 < col("nt") && col("c5") * 20 < col("nt") * 3)
            .as("keep"))
        .orderBy("doc_id")
    },

    // Declarative data-quality constraint suite (the Deequ shape): a named
    // set of table constraints — completeness, domain membership, value
    // ranges, key uniqueness, referential integrity — evaluated as ONE
    // pass over the fact table (every row-local check is a conditional
    // count inside a single aggregate → one exchange of one row) plus one
    // anti-join for the cross-table constraint. Metrics are exact integer
    // parts-per-million (ppm = passing·1e6 div rows — no float surface),
    // `passed` states each constraint's threshold. This is the gate a
    // 100 TB ingest runs BEFORE publishing a snapshot; its cost is one
    // scan, which is why the checks fold into one aggregate instead of one
    // job per constraint. Reference anchor: the defensive checks sprinkled
    // through create_train_valid_test_datasets.py (existence/shape asserts)
    // — here as data, not asserts.
    QueryDef("q190_quality_constraints",
      """WITH m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         CAST(count(l_quantity) AS BIGINT) AS cq,
        |         CAST(count(CASE WHEN l_discount >= 0 AND l_discount <= 0.1
        |                         THEN 1 END) AS BIGINT) AS cd,
        |         CAST(count(CASE WHEN l_quantity >= 1 AND l_quantity <= 50
        |                         THEN 1 END) AS BIGINT) AS cr,
        |         CAST(count(CASE WHEN l_returnflag IN ('A', 'N', 'R')
        |                         THEN 1 END) AS BIGINT) AS cf,
        |         CAST(count(DISTINCT (l_orderkey, l_linenumber)) AS BIGINT)
        |           AS ck
        |  FROM lineitem),
        |orph AS (
        |  SELECT CAST(count(*) AS BIGINT) AS bad FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey)),
        |r AS (
        |  SELECT 'completeness_quantity' AS constraint_name,
        |         cq * 1000000 // n AS metric_ppm, cq = n AS passed FROM m
        |  UNION ALL SELECT 'domain_returnflag', cf * 1000000 // n, cf = n FROM m
        |  UNION ALL SELECT 'range_discount', cd * 1000000 // n, cd = n FROM m
        |  UNION ALL SELECT 'range_quantity', cr * 1000000 // n, cr = n FROM m
        |  UNION ALL SELECT 'unique_order_line', ck * 1000000 // n, ck = n FROM m
        |  UNION ALL SELECT 'ref_orders', (n - bad) * 1000000 // n, bad = 0
        |            FROM m, orph)
        |SELECT constraint_name, CAST(metric_ppm AS BIGINT) AS metric_ppm,
        |       passed
        |FROM r ORDER BY constraint_name""".stripMargin) { (s, d) =>
      val li = Tables.lineitem(s, d)
      val m = li.agg(
        count(lit(1)).as("n"),
        count(col("l_quantity")).as("cq"),
        count(when(col("l_discount") >= 0 && col("l_discount") <= 0.1, 1)).as("cd"),
        count(when(col("l_quantity") >= 1 && col("l_quantity") <= 50, 1)).as("cr"),
        count(when(col("l_returnflag").isin("A", "N", "R"), 1)).as("cf"),
        countDistinct(struct(col("l_orderkey"), col("l_linenumber"))).as("ck"))
      val orph = li.join(Tables.orders(s, d),
          li("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("bad"))
      val one = m.crossJoin(broadcast(orph))
      def row(name: String, passing: String) =
        one.select(lit(name).as("constraint_name"),
          expr(s"$passing * 1000000 div n").as("metric_ppm"),
          (col(passing) === col("n")).as("passed"))
      row("completeness_quantity", "cq")
        .unionByName(row("domain_returnflag", "cf"))
        .unionByName(row("range_discount", "cd"))
        .unionByName(row("range_quantity", "cr"))
        .unionByName(row("unique_order_line", "ck"))
        .unionByName(one.select(lit("ref_orders").as("constraint_name"),
          expr("(n - bad) * 1000000 div n").as("metric_ppm"),
          (col("bad") === 0L).as("passed")))
        .orderBy("constraint_name")
    },

    // Population-stability-index drift audit (the standard production
    // monitor for "did this feature's distribution move between two
    // populations"): l_quantity binned into 10 fixed-width integer bins,
    // compared between the A and R return-flag populations. PSI term per
    // bin = (p−q)·ln(p/q) with add-one smoothing (stated on both engines —
    // zero bins must not produce ±∞), each term quantized to 1e-6 BEFORE
    // the total sums them (the q92 KL discipline: one rounding grid, no
    // accumulation-order surface). Everything before the 10-row PSI math is
    // integer bin counting — one map-side-combined aggregate per
    // population, so the audit costs one scan at any scale. PSI < 0.1 ⇒
    // stable, the classic threshold, stated as the `stable` column.
    QueryDef("q191_psi_drift",
      // bin on INTEGER values: DuckDB's // on DOUBLE is plain division (and
      // its double→int CAST rounds), so float binning would shift edge rows
      """WITH b AS (
        |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 5 AS bin,
        |         CAST(count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS BIGINT) AS na,
        |         CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS nb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta, CAST(sum(nb) AS BIGINT) AS tb,
        |             CAST(count(*) AS BIGINT) AS k FROM b),
        |terms AS (
        |  SELECT bin, na, nb,
        |         round((CAST(na + 1 AS DOUBLE) / (ta + k)
        |                - CAST(nb + 1 AS DOUBLE) / (tb + k))
        |               * ln((CAST(na + 1 AS DOUBLE) / (ta + k))
        |                    / (CAST(nb + 1 AS DOUBLE) / (tb + k))), 6) AS term
        |  FROM b, t),
        |tot AS (SELECT round(sum(term), 6) AS psi FROM terms)
        |SELECT bin, na, nb, term, psi, psi < 0.1 AS stable
        |FROM terms, tot ORDER BY bin""".stripMargin) { (s, d) =>
      val b = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .groupBy(expr("(cast(l_quantity as bigint) - 1) div 5").as("bin"))
        .agg(count(when(col("l_returnflag") === "A", 1)).as("na"),
          count(when(col("l_returnflag") === "R", 1)).as("nb"))
      val t = b.agg(sum("na").as("ta"), sum("nb").as("tb"),
        count(lit(1)).as("k"))
      val pa = (col("na") + 1).cast("double") / (col("ta") + col("k"))
      val pb = (col("nb") + 1).cast("double") / (col("tb") + col("k"))
      val terms = b.crossJoin(broadcast(t))
        .select(col("bin"), col("na"), col("nb"),
          round((pa - pb) * log(pa / pb), 6).as("term"))
      val tot = terms.agg(round(sum("term"), 6).as("psi"))
      terms.crossJoin(broadcast(tot))
        .select(col("bin"), col("na"), col("nb"), col("term"), col("psi"),
          (col("psi") < 0.1).as("stable"))
        .orderBy("bin")
    },

    // Two-sample Kolmogorov–Smirnov drift statistic — q191's PSI flags
    // aggregate distribution shift; KS flags the WORST single point of
    // divergence (max |ECDF_A − ECDF_B|), which catches localized shifts
    // PSI's sum can dilute. Computed on the binned ECDF so the entire
    // statistic is exact integer ppm: per-bin counts (one map-side-combined
    // aggregate), cumulative sums over the 10-row bin relation (the q07
    // bounded-window discipline — the window runs on the AGGREGATE, never
    // the corpus), integer ppm division, max. The only float is the
    // critical value 1.36·√((nA+nB)/(nA·nB)) — one literal-shaped
    // expression rounded to integer ppm on both engines before the compare.
    // k-anonymity / l-diversity audit — the privacy census a dataset that
    // leaves the building must pass (Sweeney's k-anonymity; Machanavajjhala
    // et al.'s l-diversity): rows whose QUASI-IDENTIFIER tuple — here
    // (event_type, weekday, $5 spend tier), the kind of low-cardinality
    // combination an attacker can join against public data — lands in a
    // group of fewer than k=5 records are re-identifiable, and groups
    // where the SENSITIVE attribute (user_id) takes fewer than l=3
    // distinct values leak it even at k. One exact grouped census, two
    // threshold rules, a per-event-type risk summary — the shape is one
    // keyed aggregate + a k-row rollup, identical at any scale.
    QueryDef("q269_k_anonymity",
      """WITH e AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
        |         CAST(round(greatest(value, 0) * 100, 0) AS BIGINT) // 500
        |           AS tier,
        |         user_id
        |  FROM events),
        |g AS (SELECT event_type, dow, tier,
        |        CAST(count(*) AS BIGINT) AS n,
        |        CAST(count(DISTINCT user_id) AS BIGINT) AS l
        |      FROM e GROUP BY 1, 2, 3),
        |s AS (SELECT event_type,
        |        CAST(count(*) AS BIGINT) AS n_groups,
        |        CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS small_groups,
        |        CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |          AS risky_rows,
        |        CAST(sum(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS low_div_groups,
        |        CAST(sum(n) AS BIGINT) AS total_rows
        |      FROM g GROUP BY event_type)
        |SELECT event_type, n_groups, small_groups, risky_rows,
        |       low_div_groups,
        |       CAST(risky_rows * 1000000 // total_rows AS BIGINT)
        |         AS risk_ppm
        |FROM s ORDER BY event_type""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d).select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("dow"),
        expr("cast(round(greatest(value, 0) * 100, 0) as bigint) div 500")
          .as("tier"),
        col("user_id"))
      val g = e.groupBy("event_type", "dow", "tier")
        .agg(count(lit(1)).as("n"), countDistinct("user_id").as("l"))
      g.groupBy("event_type")
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("small_groups"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("risky_rows"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("low_div_groups"),
          sum("n").as("total_rows"))
        .select(col("event_type"), col("n_groups"), col("small_groups"),
          col("risky_rows"), col("low_div_groups"),
          expr("risky_rows * 1000000 div total_rows").as("risk_ppm"))
        .orderBy("event_type")
    },

    QueryDef("q192_ks_drift",
      """WITH b AS (
        |  SELECT (CAST(l_quantity AS BIGINT) - 1) // 5 AS bin,
        |         CAST(count(CASE WHEN l_returnflag = 'A' THEN 1 END) AS BIGINT) AS na,
        |         CAST(count(CASE WHEN l_returnflag = 'R' THEN 1 END) AS BIGINT) AS nb
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |  GROUP BY 1),
        |t AS (SELECT CAST(sum(na) AS BIGINT) AS ta,
        |             CAST(sum(nb) AS BIGINT) AS tb FROM b),
        |c AS (SELECT bin, CAST(sum(na) OVER (ORDER BY bin) AS BIGINT) AS ca,
        |             CAST(sum(nb) OVER (ORDER BY bin) AS BIGINT) AS cb
        |      FROM b),
        |d AS (SELECT bin, ca * 1000000 // ta AS ca_ppm,
        |             cb * 1000000 // tb AS cb_ppm,
        |             abs(ca * 1000000 // ta - cb * 1000000 // tb) AS diff_ppm
        |      FROM c, t),
        |k AS (SELECT CAST(max(diff_ppm) AS BIGINT) AS ks_ppm FROM d),
        |cr AS (SELECT CAST(round(1360000 * sqrt(CAST(ta + tb AS DOUBLE)
        |                / (CAST(ta AS DOUBLE) * tb)), 0) AS BIGINT) AS crit_ppm
        |       FROM t)
        |SELECT bin, CAST(ca_ppm AS BIGINT) AS ca_ppm,
        |       CAST(cb_ppm AS BIGINT) AS cb_ppm,
        |       CAST(diff_ppm AS BIGINT) AS diff_ppm, ks_ppm, crit_ppm,
        |       ks_ppm > crit_ppm AS drifted
        |FROM d, k, cr ORDER BY bin""".stripMargin) { (s, d) =>
      val b = Tables.lineitem(s, d)
        .where(col("l_returnflag").isin("A", "R"))
        .groupBy(expr("(cast(l_quantity as bigint) - 1) div 5").as("bin"))
        .agg(count(when(col("l_returnflag") === "A", 1)).as("na"),
          count(when(col("l_returnflag") === "R", 1)).as("nb"))
      val t = b.agg(sum("na").as("ta"), sum("nb").as("tb"))
      val w = Window.orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val c = b.select(col("bin"), sum("na").over(w).as("ca"),
        sum("nb").over(w).as("cb"))
      val dppm = c.crossJoin(broadcast(t))
        .select(col("bin"),
          expr("ca * 1000000 div ta").as("ca_ppm"),
          expr("cb * 1000000 div tb").as("cb_ppm"),
          abs(expr("ca * 1000000 div ta") - expr("cb * 1000000 div tb"))
            .as("diff_ppm"))
      val k = dppm.agg(max("diff_ppm").as("ks_ppm"))
      val cr = t.select(
        round(lit(1360000d) * sqrt((col("ta") + col("tb")).cast("double")
          / (col("ta").cast("double") * col("tb"))), 0).cast("long")
          .as("crit_ppm"))
      dppm.crossJoin(broadcast(k)).crossJoin(broadcast(cr))
        .select(col("bin"), col("ca_ppm"), col("cb_ppm"), col("diff_ppm"),
          col("ks_ppm"), col("crit_ppm"),
          (col("ks_ppm") > col("crit_ppm")).as("drifted"))
        .orderBy("bin")
    },

    // Streaming near-dup gate (r7 verdict missing #3): exact-digest ingest
    // dedup (q119) only stops VERBATIM re-arrivals — scraped near-copies
    // need the MinHash band check against the ACCUMULATED index, per
    // arriving batch. This is DocStreams.nearDupGate (the q37 machinery
    // split across probe/corpus relations) replayed over the two-wave
    // harness in batch form — the IDENTICAL transform the continuous flow
    // runs per micro-batch via foreachBatch (StreamingSpec proves
    // stream == batch under real AvailableNow drains). Wave A lands
    // near-copies of the corpus (caught by the corpus index) plus novel
    // uppercased docs (survive, join the index); wave B lands near-copies
    // OF WAVE A'S SURVIVORS — catching those proves the index accumulates:
    // only wave A's output can match them. Survivors and match counts per
    // wave; order-reversed wave-B controls survive both indexes.
    QueryDef("q292_streaming_near_dup_gate", GateSql.sql) { (s, d) =>
      import graft.streaming.DocStreams
      val toks = split(col("text"), " ", -1)
      val base = Tables.documents(s, d)
      val corpus0 = base.select(col("doc_id"), col("text"))
      val waveA = base.where(col("doc_id") < 30)
        .select((col("doc_id") + 10000L).as("doc_id"),
          concat(col("text"), lit(" tail tail")).as("text"))
        .unionAll(base.where(col("doc_id") >= 30 && col("doc_id") < 60)
          .select((col("doc_id") + 10000L).as("doc_id"),
            upper(col("text")).as("text")))
        .persist() // gated, surviving, and reported
      val mA = MinHash.crossNearDuplicates(waveA, corpus0, col("doc_id"),
          toks, 0.5)
        .groupBy(col("probe_id").as("doc_id"))
        .agg(count(lit(1)).as("nm"))
        .persist() // drives wave-A survival AND the report
      // the product operator itself computes the survivors; mA re-derives
      // the counts for the report (same chain — StreamingSpec pins parity)
      val survA = DocStreams.nearDupGate(waveA, corpus0)
      val acc = corpus0.unionAll(survA)
      val waveB = base.where(col("doc_id") >= 30 && col("doc_id") < 45)
        .select((col("doc_id") + 20000L).as("doc_id"),
          concat(upper(col("text")), lit(" tail")).as("text"))
        .unionAll(base.where(col("doc_id") >= 60 && col("doc_id") < 70)
          .select((col("doc_id") + 20000L).as("doc_id"),
            array_join(reverse(toks), " ").as("text")))
        .persist()
      val mB = MinHash.crossNearDuplicates(waveB, acc, col("doc_id"),
          toks, 0.5)
        .groupBy(col("probe_id").as("doc_id"))
        .agg(count(lit(1)).as("nm"))
      def report(wave: String, docs: org.apache.spark.sql.DataFrame,
                 m: org.apache.spark.sql.DataFrame) =
        docs.join(m, Seq("doc_id"), "left")
          .select(lit(wave).as("wave"), col("doc_id"),
            coalesce(col("nm"), lit(0L)).as("n_dup_of"),
            col("nm").isNull.as("survived"))
      report("A", waveA, mA).unionByName(report("B", waveB, mB))
        .orderBy("wave", "doc_id")
    },

    // Entropic optimal transport (Sinkhorn-Knopp; Cuturi NeurIPS 2013) —
    // the distribution-matching operator behind mixture rebalancing: HOW
    // should mass move to turn the English length profile into the French
    // one, not just how far apart they are (q341's Wasserstein is the
    // distance; this is the PLAN). Both marginals are 8-bucket length
    // censuses in exact 1e-6 shares; the Gibbs kernel uses base-2 decay
    // (K = 1e6 >> |i−j|) so NO transcendental ever runs — three Sinkhorn
    // scaling sweeps are pure integer multiply/floor-divide recurrences,
    // stated identically on both engines. Everything after the two corpus
    // censuses is k×k = 64-row STATISTICS (the scaler posture): each sweep
    // one tiny keyed aggregate — at 100 TB the data cost is two scans.
    // Output: the dense transport plan with per-row achieved-vs-target
    // marginal audit (the floor-division mass leak is visible and equal
    // on both engines).
    QueryDef("q357_sinkhorn_ot", {
      def uStep(t: Int): String = {
        val pv = if (t == 1) "v0" else s"v${t - 1}"
        s"""u$t AS MATERIALIZED (
           |  SELECT kv.i, CAST(a.a_e6 * 1000000
           |      // (sum(kv.k_e6 * $pv.v // 1000000)) AS BIGINT) AS u
           |  FROM kv JOIN $pv ON $pv.j = kv.j
           |          JOIN ma a ON a.i = kv.i
           |  GROUP BY kv.i, a.a_e6),
           |v$t AS MATERIALIZED (
           |  SELECT kv.j, CAST(b.b_e6 * 1000000
           |      // (sum(kv.k_e6 * u$t.u // 1000000)) AS BIGINT) AS v
           |  FROM kv JOIN u$t ON u$t.i = kv.i
           |          JOIN mb b ON b.j = kv.j
           |  GROUP BY kv.j, b.b_e6)""".stripMargin
      }
      s"""WITH grid AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS g),
         |ca AS (SELECT least(n_chars // 75, 7) AS g,
         |              CAST(count(*) AS BIGINT) AS c
         |       FROM documents WHERE lang = 'en' GROUP BY 1),
         |cb AS (SELECT least(n_chars // 75, 7) AS g,
         |              CAST(count(*) AS BIGINT) AS c
         |       FROM documents WHERE lang = 'fr' GROUP BY 1),
         |ta AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM ca),
         |tb AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM cb),
         |ma AS MATERIALIZED (
         |  SELECT grid.g AS i,
         |         CAST(coalesce(ca.c, 0) * 1000000 // ta.t AS BIGINT) AS a_e6
         |  FROM grid LEFT JOIN ca ON ca.g = grid.g, ta),
         |mb AS MATERIALIZED (
         |  SELECT grid.g AS j,
         |         CAST(coalesce(cb.c, 0) * 1000000 // tb.t AS BIGINT) AS b_e6
         |  FROM grid LEFT JOIN cb ON cb.g = grid.g, tb),
         |kv AS MATERIALIZED (
         |  SELECT a.g AS i, b.g AS j,
         |         CAST(1000000 // (1 << abs(a.g - b.g)) AS BIGINT) AS k_e6
         |  FROM grid a, grid b),
         |v0 AS (SELECT g AS j, CAST(1000000 AS BIGINT) AS v FROM grid),
         |${uStep(1)},
         |${uStep(2)},
         |${uStep(3)},
         |plan AS (
         |  SELECT kv.i, kv.j,
         |         CAST(((u3.u * kv.k_e6 // 1000000) * v3.v) // 1000000
         |           AS BIGINT) AS p_e6
         |  FROM kv JOIN u3 ON u3.i = kv.i JOIN v3 ON v3.j = kv.j),
         |rs AS (SELECT i, CAST(sum(p_e6) AS BIGINT) AS rowsum_e6
         |       FROM plan GROUP BY i)
         |SELECT plan.i, plan.j, plan.p_e6, rs.rowsum_e6, ma.a_e6
         |FROM plan JOIN rs ON rs.i = plan.i JOIN ma ON ma.i = plan.i
         |ORDER BY plan.i, plan.j""".stripMargin
    }) { (s, d) =>
      val grid = s.range(0, 8).select(col("id").as("g"))
      def census(lang: String) = Tables.documents(s, d)
        .where(col("lang") === lang)
        .groupBy(least(expr("n_chars div 75"), lit(7L)).as("g"))
        .agg(count(lit(1)).as("c"))
      def marginal(lang: String, key: String, share: String) = {
        val c = census(lang)
        val t = c.agg(sum("c").as("t"))
        grid.join(c, Seq("g"), "left").crossJoin(broadcast(t))
          .select(col("g").as(key),
            expr("cast(coalesce(c, 0) * 1000000 div t as bigint)").as(share))
      }
      val ma = marginal("en", "i", "a_e6").persist() // sweeps + audit
      val mb = marginal("fr", "j", "b_e6").persist() // sweeps
      val kv = grid.as("a").crossJoin(grid.as("b"))
        .select(col("a.g").as("i"), col("b.g").as("j"),
          expr("cast(1000000 div shiftleft(1, cast(abs(a.g - b.g) as int))" +
            " as bigint)").as("k_e6"))
        .persist() // 64-row kernel: every sweep + the plan read it
      var v = grid.select(col("g").as("j"), lit(1000000L).as("v"))
      var u: org.apache.spark.sql.DataFrame = null
      for (_ <- 1 to 3) {
        u = kv.join(v, "j").join(ma, "i")
          .groupBy(col("i"), col("a_e6"))
          .agg(sum(expr("k_e6 * v div 1000000")).as("den"))
          .select(col("i"),
            expr("cast(a_e6 * 1000000 div den as bigint)").as("u"))
        v = kv.join(u, "i").join(mb, "j")
          .groupBy(col("j"), col("b_e6"))
          .agg(sum(expr("k_e6 * u div 1000000")).as("den"))
          .select(col("j"),
            expr("cast(b_e6 * 1000000 div den as bigint)").as("v"))
      }
      val plan = kv.join(u, "i").join(v, "j")
        .select(col("i"), col("j"),
          expr("cast(((u * k_e6 div 1000000) * v) div 1000000 as bigint)")
            .as("p_e6"))
      val rs = plan.groupBy("i").agg(sum("p_e6").as("rowsum_e6"))
      plan.join(rs, "i").join(ma, "i")
        .select(col("i"), col("j"), col("p_e6"), col("rowsum_e6"),
          col("a_e6"))
        .orderBy("i", "j")
    },

    // Test-set decontamination (Brown et al. 2020 appx C; the pass every
    // frontier-model data pipeline runs before training): hash-split the
    // corpus 90/10, collect the DISTINCT width-8 token shingles of the
    // held-out split, and flag any TRAIN document sharing even one such
    // span — verbatim n-gram collision, the industry-standard leakage
    // signal. On the fixture the planted near-copies that straddle the
    // split boundary are exactly what gets caught (4 docs, up to 81
    // shared spans — near-full copies). Scale shape: one shingle
    // explode per split + ONE equi-join on the span hash (never
    // doc×doc); the test side is the smaller split and arrives
    // pre-deduped, so the join is |train spans| vs |distinct test
    // spans| — linear in the corpus, the decontamination shape that
    // runs at 100 TB. Width 8 ≈ GPT-3's 13-gram rule scaled to the
    // fixture's ~12-100-token documents.
    QueryDef("q365_decontamination",
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks
         |           FROM documents),
         |sp AS (SELECT doc_id,
         |              CASE WHEN ${Hashes.bucketSql("doc_id", 29, 10)} = 0
         |                   THEN 'test' ELSE 'train' END AS split
         |       FROM documents),
         |d AS (SELECT DISTINCT doc_id, source,
         |             unnest(${DupSpans.shingleHashesSql("toks", 8)}) AS sh
         |      FROM t),
         |tests AS (SELECT DISTINCT sh FROM d JOIN sp USING (doc_id)
         |          WHERE split = 'test'),
         |tr AS (SELECT d.doc_id, d.source, d.sh
         |       FROM d JOIN sp USING (doc_id) WHERE split = 'train'),
         |hit AS (SELECT tr.doc_id, tr.source,
         |               CAST(count(*) AS BIGINT) AS n_sh,
         |               CAST(sum(CASE WHEN tests.sh IS NOT NULL
         |                        THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
         |        FROM tr LEFT JOIN tests ON tests.sh = tr.sh
         |        GROUP BY tr.doc_id, tr.source)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_train,
         |       CAST(sum(CASE WHEN n_hit > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_contaminated,
         |       CAST(sum(n_hit) AS BIGINT) AS hit_spans
         |FROM hit GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val t = docs.select(col("doc_id"), col("source"),
        split(col("text"), " ", -1).as("toks"))
      val sp = docs.select(col("doc_id"),
        when(Hashes.bucket(col("doc_id"), 29, 10) === 0, lit("test"))
          .otherwise(lit("train")).as("split"))
      val dd = t
        .select(col("doc_id"), col("source"),
          explode(DupSpans.shingleHashes(col("toks"), 8)).as("sh"))
        .distinct()
        .join(sp, "doc_id")
        .persist() // both splits scan it
      val tests = dd.where(col("split") === "test")
        .select(col("sh").as("tsh")).distinct()
      dd.where(col("split") === "train")
        .join(tests, col("sh") === col("tsh"), "left")
        .groupBy("doc_id", "source")
        .agg(count(lit(1)).as("n_sh"),
          sum(when(col("tsh").isNotNull, 1L).otherwise(0L)).as("n_hit"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_train"),
          sum(when(col("n_hit") > 0, 1L).otherwise(0L)).as("n_contaminated"),
          sum("n_hit").as("hit_spans"))
        .orderBy("source")
    },

    // UniMax training-mixture allocation (Chung et al. 2023): given
    // per-source token counts, a total budget (95% of the corpus) and a
    // 1-epoch per-source cap, compute the WATERFILLING allocation —
    // every source gets min(its cap, waterline W), W the largest integer
    // level the budget funds. Exact integer waterline search over the
    // source census: sort caps ascending with prefix sums, evaluate
    // wl_k = (B − prefix_k) div (n−k) for every saturation count k, and
    // take the LARGEST k with wl_k ≥ cap_k (upward-closed by the
    // standard exchange argument, so this is the unique consistent
    // level; k=0 is always valid → never empty). Scale shape: ONE token
    // census (the only data pass) then 20-row census arithmetic — the
    // mixture design step for a 100 TB corpus costs one aggregate.
    // Output: per-source allocation, saturation flag, and fill ratio —
    // the sampling-weights table a training run consumes.
    QueryDef("q373_unimax_mixture",
      """WITH tk AS (SELECT source,
        |             CAST(sum(len(string_split(text, ' '))) AS BIGINT)
        |               AS toks
        |      FROM documents GROUP BY source),
        |tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t,
        |               CAST(count(*) AS BIGINT) AS ns FROM tk),
        |bud AS (SELECT t * 95 // 100 AS b, ns FROM tot),
        |r AS (SELECT source, toks,
        |        row_number() OVER (ORDER BY toks, source) AS rk,
        |        CAST(sum(toks) OVER (ORDER BY toks, source
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |          AS BIGINT) AS pre
        |      FROM tk),
        |ks AS (SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS ck,
        |              CAST(0 AS BIGINT) AS pre
        |       UNION ALL
        |       SELECT rk, toks, pre FROM r, tot WHERE rk < tot.ns),
        |w AS (SELECT ks.k, ks.ck,
        |             (bud.b - ks.pre) // (bud.ns - ks.k) AS wl
        |      FROM ks, bud),
        |pick AS (SELECT k, wl FROM w WHERE wl >= ck
        |         ORDER BY k DESC LIMIT 1)
        |SELECT r.source, r.toks, least(r.toks, pick.wl) AS allocated,
        |       (r.toks <= pick.wl) AS saturated, pick.wl AS waterline,
        |       CAST(least(r.toks, pick.wl) * 1000000 // r.toks AS BIGINT)
        |         AS fill_ppm
        |FROM r, pick ORDER BY r.source""".stripMargin) { (s, d) =>
      import s.implicits._
      val wOrd = Window.orderBy("toks", "source")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tk = Tables.documents(s, d)
        .groupBy("source")
        .agg(sum(size(split(col("text"), " ", -1))).cast("long").as("toks"))
      val tot = tk.agg(sum("toks").as("t"), count(lit(1)).as("ns"))
      val bud = tot.select(expr("t * 95 div 100").as("b"), col("ns"))
      val r = tk.select(col("source"), col("toks"),
          row_number().over(Window.orderBy("toks", "source")).as("rk"),
          sum("toks").over(wOrd).as("pre"))
        .persist() // waterline candidates + the allocation join
      val ks = r.crossJoin(broadcast(tot)).where(col("rk") < col("ns"))
        .select(col("rk").as("k"), col("toks").as("ck"), col("pre"))
        .unionAll(Seq((0L, 0L, 0L)).toDF("k", "ck", "pre"))
      val w = ks.crossJoin(broadcast(bud))
        .select(col("k"), col("ck"),
          expr("(b - pre) div (ns - k)").as("wl"))
      val pick = w.where(col("wl") >= col("ck"))
        .orderBy(col("k").desc).limit(1).select("k", "wl")
      r.crossJoin(broadcast(pick))
        .select(col("source"), col("toks"),
          least(col("toks"), col("wl")).as("allocated"),
          (col("toks") <= col("wl")).as("saturated"),
          col("wl").as("waterline"),
          expr("least(toks, wl) * 1000000 div toks").as("fill_ppm"))
        .orderBy("source")
    },

    // Checksum-validated PII detection (the presidio/scrubadub posture:
    // a pattern match alone over-fires, so card-shaped digit runs are
    // VALIDATED with the Luhn mod-10 checksum, ISO/IEC 7812). A 20% slice
    // of documents gets a deterministic 16-digit number appended — 15
    // hash digits plus the CORRECT Luhn check digit, then half of those
    // planted numbers are corrupted (+5 on the check, always invalid) —
    // so ground truth is constructed to measure the validator, not the
    // regex. Detection: digit runs of 14-19 chars, per-run Luhn fold
    // (position-parity doubling from the right) as catalyst higher-order
    // functions / DuckDB list lambdas — scan-parallel per-row work, no
    // shuffle until the per-source census. The census shows exactly the
    // planted valid half flagged PII and the corrupted half rejected —
    // the false-positive kill a checksum buys over q74's regex masking.
    QueryDef("q376_luhn_pii", {
      val dig = "CAST((((doc_id % 100003 + 100003 + (60 + j)) * 2654435761)" +
        " % 1000000007) * (2 * (60 + j) + 1) % 1000000007 % 10 AS BIGINT)"
      s"""WITH dg AS (
         |  SELECT doc_id, list_transform(range(1, 16), j -> $dig) AS d
         |  FROM documents
         |  WHERE ${graft.functions.Hashes.bucketSql("doc_id", 59, 5)} = 0),
         |pay AS (
         |  SELECT doc_id, d,
         |         list_aggregate(list_transform(d, x -> CAST(x AS VARCHAR)),
         |           'string_agg', '') AS p15,
         |         list_sum(list_transform(range(1, 16), j ->
         |           CASE WHEN j % 2 = 1
         |                THEN CASE WHEN 2 * d[j] > 9 THEN 2 * d[j] - 9
         |                     ELSE 2 * d[j] END
         |                ELSE d[j] END)) AS gsum
         |  FROM dg),
         |num AS (
         |  SELECT doc_id,
         |         p15 || CAST(CASE WHEN
         |             ${graft.functions.Hashes.bucketSql("doc_id", 61, 2)} = 1
         |           THEN ((10 - gsum % 10) % 10 + 5) % 10
         |           ELSE (10 - gsum % 10) % 10 END AS VARCHAR) AS cc
         |  FROM pay),
         |aug AS (
         |  SELECT d0.doc_id, d0.source,
         |         CASE WHEN num.cc IS NOT NULL THEN d0.text || ' ' || num.cc
         |              ELSE d0.text END AS text
         |  FROM documents d0 LEFT JOIN num USING (doc_id)),
         |cand AS (
         |  SELECT doc_id, source,
         |         unnest(regexp_extract_all(text, '[0-9]{14,19}')) AS run
         |  FROM aug),
         |chk AS (
         |  SELECT doc_id, source, run,
         |         list_sum(list_transform(range(1, len(run) + 1), i ->
         |           CASE WHEN (len(run) - i) % 2 = 1
         |                THEN CASE WHEN 2 * CAST(substr(run, CAST(i AS INT),
         |                         1) AS BIGINT) > 9
         |                     THEN 2 * CAST(substr(run, CAST(i AS INT), 1)
         |                         AS BIGINT) - 9
         |                     ELSE 2 * CAST(substr(run, CAST(i AS INT), 1)
         |                         AS BIGINT) END
         |                ELSE CAST(substr(run, CAST(i AS INT), 1) AS BIGINT)
         |           END)) % 10 AS lsum
         |  FROM cand)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_candidates,
         |       CAST(sum(CASE WHEN lsum = 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_luhn_valid,
         |       CAST(sum(CASE WHEN lsum <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         |         AS n_luhn_invalid
         |FROM chk GROUP BY source ORDER BY source""".stripMargin
    }) { (s, d) =>
      val docs = Tables.documents(s, d)
      // 15 deterministic hash digits per planted doc, j the lambda index
      val digitExpr = "cast((((doc_id % 100003 + 100003 + (60 + j))" +
        " * 2654435761) % 1000000007) * (2 * (60 + j) + 1) % 1000000007" +
        " % 10 as bigint)"
      val num = docs
        .where(Hashes.bucket(col("doc_id"), 59, 5) === 0)
        .select(col("doc_id"),
          expr(s"transform(sequence(1, 15), j -> $digitExpr)").as("d"))
        .select(col("doc_id"),
          expr("array_join(transform(d, x -> cast(x as string)), '')")
            .as("p15"),
          expr("""aggregate(sequence(1, 15), 0L, (acc, j) ->
                 |acc + (CASE WHEN j % 2 = 1
                 |THEN CASE WHEN 2 * element_at(d, j) > 9
                 |THEN 2 * element_at(d, j) - 9
                 |ELSE 2 * element_at(d, j) END
                 |ELSE element_at(d, j) END))""".stripMargin
            .replace("\n", " ")).as("gsum"))
        .select(col("doc_id"),
          concat(col("p15"),
            when(Hashes.bucket(col("doc_id"), 61, 2) === 1,
              ((lit(10L) - col("gsum") % 10) % 10 + 5) % 10)
              .otherwise((lit(10L) - col("gsum") % 10) % 10)
              .cast("string")).as("cc"))
      val aug = docs.join(num, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          when(col("cc").isNotNull, concat(col("text"), lit(" "), col("cc")))
            .otherwise(col("text")).as("text"))
      val cand = aug.select(col("doc_id"), col("source"),
        explode(expr("regexp_extract_all(text, '[0-9]{14,19}', 0)"))
          .as("run"))
      val chk = cand.select(col("source"),
        (expr("""aggregate(sequence(1, length(run)), 0L, (acc, i) ->
                |acc + (CASE WHEN (length(run) - i) % 2 = 1
                |THEN CASE WHEN 2 * cast(substr(run, i, 1) as bigint) > 9
                |THEN 2 * cast(substr(run, i, 1) as bigint) - 9
                |ELSE 2 * cast(substr(run, i, 1) as bigint) END
                |ELSE cast(substr(run, i, 1) as bigint) END))""".stripMargin
          .replace("\n", " ")) % 10).as("lsum"))
      chk.groupBy("source")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("lsum") === 0, 1L).otherwise(0L)).as("n_luhn_valid"),
          sum(when(col("lsum") =!= 0, 1L).otherwise(0L))
            .as("n_luhn_invalid"))
        .orderBy("source")
    },

    // t-closeness — the third rung of the release-privacy ladder, and the
    // one k-anonymity/l-diversity (q269) structurally cannot reach: a
    // group can be large (k ok) and diverse (l ok) while its SENSITIVE
    // distribution still leaks ("this cohort skews to the top value
    // tiers"). t = Earth Mover's Distance between the group's ordered
    // value-tier distribution and the global one (Li, Li & Venkatasubra-
    // manian, ICDE 2007); for an ordered attribute on a unit grid EMD is
    // the mean |cumulative gap|. Exact integers: the per-tier grid is
    // densified (missing tiers still carry cumulative mass), cumulative
    // counts cross-multiplied against the global census instead of
    // divided (|C_g·N − C·n_g|), one final ppm division per group.
    // Scale: one groupBy over facts + a 10-wide dense grid per QI group
    // + one window cumsum — the q192 KS shape, per-group.
    QueryDef("q380_t_closeness",
      """WITH e AS (
        |  SELECT event_type, (epoch_us(ts) // 86400000000) % 7 AS dow,
        |         least(CAST(round(greatest(value, 0) * 100, 0) AS BIGINT)
        |               // 500, 9) AS j
        |  FROM events),
        |gj AS (SELECT event_type, dow, j, CAST(count(*) AS BIGINT) AS c
        |       FROM e GROUP BY 1, 2, 3),
        |qi AS (SELECT event_type, dow, CAST(sum(c) AS BIGINT) AS ng
        |       FROM gj GROUP BY 1, 2),
        |gl AS (SELECT j, CAST(sum(c) AS BIGINT) AS cj FROM gj GROUP BY j),
        |tot AS (SELECT CAST(sum(cj) AS BIGINT) AS nn FROM gl),
        |grid AS (SELECT qi.event_type, qi.dow, qi.ng, t.j,
        |                coalesce(gj.c, 0) AS c, coalesce(gl.cj, 0) AS cj
        |         FROM qi CROSS JOIN (SELECT unnest(range(0, 10)) AS j) t
        |         LEFT JOIN gj ON gj.event_type = qi.event_type
        |           AND gj.dow = qi.dow AND gj.j = t.j
        |         LEFT JOIN gl ON gl.j = t.j),
        |cum AS (SELECT event_type, dow, ng, j,
        |          CAST(sum(c) OVER (PARTITION BY event_type, dow
        |            ORDER BY j) AS HUGEINT) AS cg,
        |          CAST(sum(cj) OVER (PARTITION BY event_type, dow
        |            ORDER BY j) AS HUGEINT) AS cn
        |        FROM grid),
        |t AS (SELECT event_type, dow, ng,
        |        CAST(sum(CASE WHEN j < 9
        |          THEN abs(cg * (SELECT nn FROM tot) - cn * ng)
        |          ELSE CAST(0 AS HUGEINT) END) AS HUGEINT) AS gap
        |      FROM cum GROUP BY 1, 2, 3)
        |SELECT event_type, CAST(dow AS BIGINT) AS dow, ng AS n_rows,
        |       CAST(gap * 1000000
        |            // (CAST(ng AS HUGEINT) * (SELECT nn FROM tot) * 9)
        |         AS BIGINT) AS t_ppm,
        |       CAST(gap * 1000000
        |            // (CAST(ng AS HUGEINT) * (SELECT nn FROM tot) * 9)
        |         AS BIGINT) > 60000 AS breach
        |FROM t ORDER BY event_type, dow""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val dec = "decimal(38,0)"
      val e = Tables.events(s, d).select(col("event_type"),
        expr("(unix_micros(ts) div 86400000000) % 7").as("dow"),
        expr("least(cast(round(greatest(value, 0) * 100, 0) as bigint)" +
          " div 500, 9)").as("j"))
      val gj = e.groupBy("event_type", "dow", "j")
        .agg(count(lit(1)).as("c")).persist() // feeds qi, gl, grid
      val qi = gj.groupBy("event_type", "dow").agg(sum("c").as("ng"))
      val gl = gj.groupBy("j").agg(sum("c").as("cj"))
      val tot = gl.agg(sum("cj").as("nn"))
      val grid = qi.crossJoin(
          broadcast(e.sparkSession.range(0, 10).select(col("id").as("j"))))
        .join(gj, Seq("event_type", "dow", "j"), "left")
        .join(broadcast(gl.withColumnRenamed("j", "gj").as("g")),
          col("j") === col("gj"), "left")
        .select(col("event_type"), col("dow"), col("ng"), col("j"),
          coalesce(col("c"), lit(0L)).as("c"),
          coalesce(col("cj"), lit(0L)).as("cj"))
      val w = Window.partitionBy("event_type", "dow").orderBy("j")
      val cum = grid.select(col("event_type"), col("dow"), col("ng"),
        col("j"),
        sum("c").over(w).cast(dec).as("cg"),
        sum("cj").over(w).cast(dec).as("cn"))
      val t = cum.crossJoin(broadcast(tot))
        .groupBy(col("event_type"), col("dow"), col("ng"), col("nn"))
        .agg(sum(when(col("j") < 9,
          abs(col("cg") * col("nn") - col("cn") * col("ng")))
          .otherwise(lit(0L).cast(dec))).as("gap"))
      t.select(col("event_type"), col("dow").cast("long").as("dow"),
          col("ng").as("n_rows"),
          expr(s"cast(gap * 1000000 div (cast(ng as $dec) * nn * 9)" +
            " as bigint)").as("t_ppm"))
        .withColumn("breach", col("t_ppm") > 60000L)
        .orderBy("event_type", "dow")
    },

    // Temperature-scaled mixture weights — the sampling rule multilingual
    // LM corpora actually ship with (mC4/XLM-R style): p_i ∝ n_i^(1/τ),
    // τ=1 is proportional (big sources drown small ones), τ→∞ is uniform;
    // the knob trades head-source fidelity against tail-source coverage.
    // Sits next to q373's UniMax (a budget CAP rule) as the SMOOTH
    // reweighting alternative. Exact where possible: τ=1 weights are pure
    // integer ratios; τ=2,5 go through the transcendental contract —
    // exp(ln(n)/τ) per SOURCE (a k-row census, not per-row), e6-quantized
    // before the ppm ratio, so both engines agree bit-for-bit. The
    // flattening claim is measurable in the output: max(p) falls and
    // min(p) rises monotonically in τ (Round12Spec pins it).
    QueryDef("q381_temperature_mixture",
      """WITH s AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS n
        |           FROM documents GROUP BY source),
        |q AS (SELECT source, n,
        |        CAST(round(exp(ln(CAST(n AS DOUBLE)) / 2) * 1000000, 0)
        |          AS BIGINT) AS s2,
        |        CAST(round(exp(ln(CAST(n AS DOUBLE)) / 5) * 1000000, 0)
        |          AS BIGINT) AS s5
        |      FROM s),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tn,
        |             CAST(sum(s2) AS BIGINT) AS t2,
        |             CAST(sum(s5) AS BIGINT) AS t5 FROM q)
        |SELECT source, n AS n_chars,
        |       CAST(n * 1000000 // tn AS BIGINT) AS p1_ppm,
        |       CAST(s2 * 1000000 // t2 AS BIGINT) AS p2_ppm,
        |       CAST(s5 * 1000000 // t5 AS BIGINT) AS p5_ppm
        |FROM q, t ORDER BY source""".stripMargin) { (s, d) =>
      val src = Tables.documents(s, d)
        .groupBy("source").agg(sum("n_chars").as("n"))
      val q = src.select(col("source"), col("n"),
        round(exp(log(col("n").cast("double")) / 2) * 1000000, 0)
          .cast("long").as("s2"),
        round(exp(log(col("n").cast("double")) / 5) * 1000000, 0)
          .cast("long").as("s5"))
        .persist() // census rows feed both the totals and the ratios
      val t = q.agg(sum("n").as("tn"), sum("s2").as("t2"),
        sum("s5").as("t5"))
      q.crossJoin(broadcast(t))
        .select(col("source"), col("n").as("n_chars"),
          expr("n * 1000000 div tn").as("p1_ppm"),
          expr("s2 * 1000000 div t2").as("p2_ppm"),
          expr("s5 * 1000000 div t5").as("p5_ppm"))
        .orderBy("source")
    },

    // Mondrian k-anonymization (LeFevre et al., ICDE 2006) — the privacy
    // family's ENFORCER next to its meters (q269 k/l, q380 t): greedily
    // bisect the quasi-identifier domain (dow × value-tier) along the
    // wider dimension at the cell's exact median, refusing any cut that
    // would leave a side under k=5 — after 3 rounds every surviving cell
    // is a generalization region with ≥ k rows by construction. All
    // decisions are census arithmetic: per-cell range stats, per-value
    // cumulative counts (the q335 value-domain posture), median = first
    // value whose cum reaches ⌈n/2⌉; rows relabel by one broadcast-join
    // per round (cell ids double each round, stable cell·2+side coding,
    // so lineage is readable in the id's bits). Output: the final cell
    // census with its generalization ranges — the table a release
    // actually publishes.
    QueryDef("q398_mondrian", {
      val k = 5
      def roundCtes(r: Int): String = {
        val p = s"rows${r - 1}"
        s"""st$r AS MATERIALIZED (
           |  SELECT cell, CAST(count(*) AS BIGINT) AS n,
           |         min(d) AS dmin, max(d) AS dmax,
           |         min(t) AS tmin, max(t) AS tmax
           |  FROM $p GROUP BY cell),
           |cd$r AS (SELECT cell, d AS v, CAST(count(*) AS BIGINT) AS c
           |         FROM $p GROUP BY cell, d),
           |cdc$r AS (SELECT cell, v, sum(c) OVER (PARTITION BY cell
           |            ORDER BY v) AS cum FROM cd$r),
           |md$r AS (SELECT cell, v AS med, cum FROM (
           |    SELECT cdc$r.cell, v, cum,
           |           row_number() OVER (PARTITION BY cdc$r.cell
           |             ORDER BY v) AS rn
           |    FROM cdc$r JOIN st$r ON st$r.cell = cdc$r.cell
           |    WHERE cum * 2 >= st$r.n) z WHERE rn = 1),
           |ct$r AS (SELECT cell, t AS v, CAST(count(*) AS BIGINT) AS c
           |         FROM $p GROUP BY cell, t),
           |ctc$r AS (SELECT cell, v, sum(c) OVER (PARTITION BY cell
           |            ORDER BY v) AS cum FROM ct$r),
           |mt$r AS (SELECT cell, v AS med, cum FROM (
           |    SELECT ctc$r.cell, v, cum,
           |           row_number() OVER (PARTITION BY ctc$r.cell
           |             ORDER BY v) AS rn
           |    FROM ctc$r JOIN st$r ON st$r.cell = ctc$r.cell
           |    WHERE cum * 2 >= st$r.n) z WHERE rn = 1),
           |dec$r AS MATERIALIZED (
           |  SELECT st$r.cell,
           |         CASE WHEN st$r.tmax - st$r.tmin
           |                   >= st$r.dmax - st$r.dmin
           |              THEN 't' ELSE 'd' END AS dim,
           |         CASE WHEN st$r.tmax - st$r.tmin
           |                   >= st$r.dmax - st$r.dmin
           |              THEN mt$r.med ELSE md$r.med END AS med,
           |         CASE WHEN st$r.tmax - st$r.tmin
           |                   >= st$r.dmax - st$r.dmin
           |              THEN mt$r.cum ELSE md$r.cum END AS nlo,
           |         st$r.n
           |  FROM st$r JOIN md$r ON md$r.cell = st$r.cell
           |  JOIN mt$r ON mt$r.cell = st$r.cell),
           |rows$r AS (
           |  SELECT p.d, p.t,
           |    CASE WHEN dec$r.nlo >= $k AND dec$r.n - dec$r.nlo >= $k
           |         THEN p.cell * 2
           |              + CASE WHEN (CASE WHEN dec$r.dim = 't' THEN p.t
           |                           ELSE p.d END) > dec$r.med
           |                THEN 1 ELSE 0 END
           |         ELSE p.cell * 2 END AS cell
           |  FROM $p p JOIN dec$r ON dec$r.cell = p.cell)""".stripMargin
      }
      s"""WITH rows0 AS (
         |  SELECT (epoch_us(ts) // 86400000000) % 7 AS d,
         |         least(CAST(round(greatest(value, 0) * 100, 0) AS BIGINT)
         |               // 500, 19) AS t,
         |         CAST(1 AS BIGINT) AS cell
         |  FROM events),
         |${(1 to 3).map(roundCtes).mkString(",\n")}
         |SELECT cell AS cell_id, CAST(count(*) AS BIGINT) AS n,
         |       CAST(min(d) AS BIGINT) AS dow_min,
         |       CAST(max(d) AS BIGINT) AS dow_max,
         |       CAST(min(t) AS BIGINT) AS tier_min,
         |       CAST(max(t) AS BIGINT) AS tier_max
         |FROM rows3 GROUP BY cell ORDER BY cell""".stripMargin
    }) { (s, d) =>
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.expressions.Window
      val k = 5
      var rows: DataFrame = Tables.events(s, d).select(
        expr("(unix_micros(ts) div 86400000000) % 7").as("d"),
        expr("least(cast(round(greatest(value, 0) * 100, 0) as bigint)" +
          " div 500, 19)").as("t"),
        lit(1L).as("cell"))
      for (_ <- 1 to 3) {
        val st = rows.groupBy("cell").agg(count(lit(1)).as("n"),
          min("d").as("dmin"), max("d").as("dmax"),
          min("t").as("tmin"), max("t").as("tmax"))
        def medOf(c: String): DataFrame = {
          val cw = Window.partitionBy("cell").orderBy("v")
          val cum = rows.groupBy(col("cell"), col(c).as("v"))
            .agg(count(lit(1)).as("cnt"))
            .select(col("cell"), col("v"), sum("cnt").over(cw).as("cum"))
          cum.join(st.select(col("cell"), col("n")), "cell")
            .where(col("cum") * 2 >= col("n"))
            .withColumn("rn", row_number().over(cw))
            .where(col("rn") === 1)
            .select(col("cell"), col("v").as(s"med_$c"),
              col("cum").as(s"cum_$c"))
        }
        val dec = st
          .join(medOf("d"), "cell").join(medOf("t"), "cell")
          .select(col("cell").as("dcell"),
            (col("tmax") - col("tmin") >= col("dmax") - col("dmin"))
              .as("useT"),
            when(col("tmax") - col("tmin") >= col("dmax") - col("dmin"),
              col("med_t")).otherwise(col("med_d")).as("med"),
            when(col("tmax") - col("tmin") >= col("dmax") - col("dmin"),
              col("cum_t")).otherwise(col("cum_d")).as("nlo"),
            col("n"))
        rows = rows.join(broadcast(dec), col("cell") === col("dcell"))
          .select(col("d"), col("t"),
            when(col("nlo") >= k && col("n") - col("nlo") >= k,
              col("cell") * 2
                + when((when(col("useT"), col("t")).otherwise(col("d")))
                  > col("med"), 1L).otherwise(0L))
              .otherwise(col("cell") * 2).as("cell"))
          .localCheckpoint()
      }
      rows.groupBy(col("cell").as("cell_id"))
        .agg(count(lit(1)).as("n"),
          min("d").as("dow_min"), max("d").as("dow_max"),
          min("t").as("tier_min"), max("t").as("tier_max"))
        .orderBy("cell_id")
    },

    // ε-differentially-private released counts (the Laplace mechanism,
    // Dwork 2006) — the privacy family's RELEASE primitive next to the
    // k-anon/l-div/t-closeness audits: per event type, true count +
    // Laplace(1/ε) noise at ε = 1. The "draw" is the salted full-content
    // hash of the released key mapped through the Laplace inverse CDF —
    // deterministic, so both engines replay the released number exactly
    // (a production system would use a sealed RNG; the MECHANISM —
    // sensitivity-1 count, inverse-CDF transform, e6 quantization — is
    // what this query states). u ∈ (0,1) strictly by the +0.5/1e6
    // mapping, so ln(1 − 2|u − ½|) never sees 0. The noise is
    // e6-quantized ONCE (the q327 transcendental discipline); released =
    // true·1e6 + noise_e6. Scale: a keyed census + O(1) scalar math.
    QueryDef("q448_dp_counts", {
      val u = s"((${graft.functions.Hashes.tokenHashSql("event_type")})" +
        " % 1000000 + 0.5) / 1000000.0"
      s"""WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS true_n
         |           FROM events GROUP BY event_type),
         |n AS (SELECT event_type, true_n, $u AS u FROM c),
         |r AS (SELECT event_type, true_n,
         |             CAST(round(CASE WHEN u >= 0.5 THEN -1 ELSE 1 END
         |               * ln(1 - 2 * abs(u - 0.5)) * 1000000, 0) AS BIGINT)
         |               AS noise_e6
         |      FROM n)
         |SELECT event_type, true_n, noise_e6,
         |       true_n * 1000000 + noise_e6 AS released_e6,
         |       abs(noise_e6) AS abs_err_e6
         |FROM r ORDER BY event_type""".stripMargin
    }) { (s, d) =>
      import graft.functions.Hashes
      Tables.events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("true_n"))
        .withColumn("u",
          (Hashes.tokenHash(col("event_type")) % 1000000L + 0.5)
            / 1000000.0d)
        .withColumn("noise_e6", expr(
          "cast(round(CASE WHEN u >= 0.5 THEN -1 ELSE 1 END" +
            " * ln(1 - 2 * abs(u - 0.5)) * 1000000, 0) as bigint)"))
        .select(col("event_type"), col("true_n"), col("noise_e6"),
          (col("true_n") * 1000000L + col("noise_e6")).as("released_e6"),
          abs(col("noise_e6")).as("abs_err_e6"))
        .orderBy("event_type")
    },

    // SEQUENCE PACKING — the step between a curated corpus and a training
    // run: documents pack into fixed context windows (W = 100 tokens here)
    // so the GPU never pads. Bin packing is inherently order-dependent, so
    // the scalable posture is SHARDED next-fit-decreasing: docs hash into
    // 8 shards, each shard packs independently with one O(1)-state
    // sorted-group recurrence (the q442 machinery) over its docs in
    // (len DESC, id) order — the decreasing order is what buys FFD-grade
    // fill, the sharding is what buys parallelism (each worker packs its
    // shard; cross-shard waste is ≤ one bin per shard). Docs longer than W
    // truncate to W (the training reality). Output is the per-bin census
    // with fill ppm; the oracle replays the recurrence as a per-shard
    // recursive CTE.
    QueryDef("q458_sequence_packing", {
      val W = PackSql.W
      s"""WITH RECURSIVE t AS MATERIALIZED (
         |  SELECT doc_id, least(len(string_split(text, ' ')), $W) AS ln,
         |         doc_id % 8 AS shard
         |  FROM documents),
         |o AS MATERIALIZED (SELECT shard, doc_id, ln, row_number() OVER (
         |        PARTITION BY shard ORDER BY ln DESC, doc_id) AS rn
         |      FROM t),
         |rec(shard, rn, bin, acc) AS (
         |  SELECT shard, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
         |         CAST(0 AS BIGINT)
         |  FROM (SELECT DISTINCT shard FROM o)
         |  UNION ALL
         |  SELECT o.shard, o.rn,
         |         CASE WHEN r.acc + o.ln > $W THEN r.bin + 1 ELSE r.bin END,
         |         CASE WHEN r.acc + o.ln > $W THEN o.ln
         |              ELSE r.acc + o.ln END
         |  FROM rec r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1),
         |b AS MATERIALIZED (SELECT r.shard, r.bin, CAST(count(*) AS BIGINT) AS n_docs,
         |             CAST(sum(o.ln) AS BIGINT) AS tokens_used
         |      FROM rec r JOIN o ON o.shard = r.shard AND o.rn = r.rn
         |      WHERE r.rn >= 1 GROUP BY r.shard, r.bin)
         |SELECT shard, bin, n_docs, tokens_used,
         |       tokens_used * 1000000 // $W AS fill_ppm
         |FROM b ORDER BY shard, bin""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val W = PackSql.W
      Tables.documents(s, d)
        .select(col("doc_id"),
          least(size(split(col("text"), " ", -1)), lit(W)).cast("long")
            .as("len"),
          (col("doc_id") % 8).as("shard"))
        .as[(Long, Long, Long)]
        .groupByKey(_._3)
        .flatMapSortedGroups(col("len").desc, col("doc_id")) { (shard, rows) =>
          var bin = 0L
          var acc = 0L
          rows.map { case (_, len, _) =>
            if (acc + len > W) { bin += 1; acc = len } else acc += len
            (shard, bin, len)
          }
        }
        .toDF("shard", "bin", "len")
        .groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("len").as("tokens_used"))
        .select(col("shard"), col("bin"), col("n_docs"), col("tokens_used"),
          expr(s"tokens_used * 1000000 div $W").as("fill_ppm"))
        .orderBy("shard", "bin")
    },

    // STREAMING sequence packing — q458's recurrence run where packing
    // lives in a continuous ingest pipeline: docs arrive in two ordered
    // waves, each shard's (bin, acc) packing cursor is transformWithState
    // ValueState, and the stream drains to a stop after wave A then
    // resumes the SAME RocksDB checkpoint for wave B — a bin left half
    // full at the restart must keep filling from the carried cursor.
    // Unlike q458's next-fit-DECREASING the stream cannot sort by length
    // (it can't see the future), so the streamed contract is next-fit in
    // doc order, and the oracle replays exactly that recurrence; the full
    // per-doc assignment trace is hash-checked, not just the bin census.
    QueryDef("q463_stream_packing", PackSql.nfSql) { (s, d) =>
      import s.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      import org.apache.spark.sql.types.{LongType, StructType}
      import graft.streaming.StatefulStreams
      val W = PackSql.W
      val t = Tables.documents(s, d)
        .select(col("doc_id"),
          least(size(split(col("text"), " ", -1)), lit(W)).cast("long")
            .as("len"),
          (col("doc_id") % 8).as("shard"))
        .persist() // wave split boundary + both landing writes
      val mid = t.agg(expr("(min(doc_id) + max(doc_id)) div 2"))
        .head().getLong(0)
      Scratch.run(s, "graft_pack_q_", StatefulStreams.RocksDb) { root =>
        // ordered waves: all wave-A doc ids precede wave-B's, so each
        // shard's cursor sees docs in id order across the restart
        Drain.twoWaves(s"$root/landing",
            t.where(col("doc_id") <= mid).coalesce(1),
            t.where(col("doc_id") > mid).coalesce(1)) {
          val stream = s.readStream
            .schema(new StructType().add("doc_id", LongType)
              .add("len", LongType).add("shard", LongType))
            .parquet(s"$root/landing")
            .as[(Long, Long, Long)]
            .groupByKey(_._3)
            .transformWithState(new StatefulStreams.Packer(W.toLong),
              TimeMode.None(), OutputMode.Append())
          Drain.toParquet(stream.toDF("shard", "doc_id", "len", "bin"),
            s"$root/out", s"$root/ckpt")
        }
        s.read.parquet(s"$root/out")
          .select("shard", "doc_id", "len", "bin")
          .orderBy("shard", "doc_id")
          // the result READS $root/out — materialize before the delete
          .localCheckpoint()
      }
    }
  )
}

/** q458/q463 shared constants and the q463 oracle: the packing context
  * window and the next-fit-in-doc-order recursive CTE (q463's streamed
  * contract — arrival order, not the batch NFD's length order).
  */
private object PackSql {
  val W = 100

  val nfSql: String =
    s"""WITH RECURSIVE t AS MATERIALIZED (
       |  SELECT doc_id, least(len(string_split(text, ' ')), $W) AS ln,
       |         doc_id % 8 AS shard
       |  FROM documents),
       |o AS MATERIALIZED (SELECT shard, doc_id, ln, row_number() OVER (
       |        PARTITION BY shard ORDER BY doc_id) AS rn FROM t),
       |rec(shard, rn, doc_id, ln, bin, acc) AS (
       |  SELECT shard, CAST(0 AS BIGINT), CAST(-1 AS BIGINT),
       |         CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM (SELECT DISTINCT shard FROM t) sh
       |  UNION ALL
       |  SELECT o.shard, o.rn, o.doc_id, o.ln,
       |         CASE WHEN r.acc + o.ln > $W THEN r.bin + 1 ELSE r.bin END,
       |         CASE WHEN r.acc + o.ln > $W THEN o.ln ELSE r.acc + o.ln END
       |  FROM rec r JOIN o ON o.shard = r.shard AND o.rn = r.rn + 1)
       |SELECT shard, doc_id, CAST(ln AS BIGINT) AS len, bin
       |FROM rec WHERE rn >= 1 ORDER BY shard, doc_id""".stripMargin
}

/** q292 oracle: the cross-relation MinHash gate chain (shingles →
  * signatures → band keys → (band, bkey) candidates → exact-Jaccard
  * verify → per-probe match counts) instantiated twice — wave A against
  * the corpus, wave B against corpus ∪ wave-A survivors.
  */
private object GateSql {
  import MinHash.{BandSize, Bands, K}
  private val P = Hashes.Prime

  private def bandKeySql(b: Int): String =
    (b * BandSize until (b + 1) * BandSize)
      .map(j => s"mh_$j")
      .reduceLeft((acc, m) => s"(($acc) * 31 + $m) % $P")

  /** Gate chain `$x…` for probe CTE `$probe` vs corpus CTE `$corpus`
    * (both (doc_id, text)), ending in `${x}mc(pid, nm)`.
    */
  private def gate(x: String, probe: String, corpus: String): String = {
    val toks = "string_split(text, ' ')"
    val mhCols = (0 until K).map(j => s"${MinHash.minhashSql("sh", j)} AS mh_$j")
    def side(y: String, rel: String): String =
      s"""${y}t AS (SELECT doc_id, $toks AS toks FROM $rel),
         |${y}s AS (SELECT doc_id, ${MinHash.shingleHashesSql("toks")} AS sh
         |      FROM ${y}t WHERE len(toks) >= 3),
         |${y}sig AS (SELECT doc_id, ${mhCols.mkString(", ")} FROM ${y}s),
         |${y}b AS (${(0 until Bands).map(b =>
              s"SELECT doc_id, $b AS band, ${bandKeySql(b)} AS bkey FROM ${y}sig")
              .mkString(" UNION ALL ")}),
         |${y}ss AS (SELECT doc_id, list_distinct(sh) AS sset FROM ${y}s)""".stripMargin
    s"""${side(s"${x}p", probe)},
       |${side(s"${x}c", corpus)},
       |${x}cand AS (SELECT DISTINCT a.doc_id AS pid, b.doc_id AS cid
       |         FROM ${x}pb a JOIN ${x}cb b
       |           ON a.band = b.band AND a.bkey = b.bkey),
       |${x}m AS (SELECT pid, cid FROM ${x}cand
       |       JOIN ${x}pss x ON x.doc_id = pid
       |       JOIN ${x}css y ON y.doc_id = cid
       |       WHERE round(CAST(len(list_intersect(x.sset, y.sset)) AS DOUBLE)
       |             / len(list_distinct(list_concat(x.sset, y.sset))), 6)
       |             >= 0.5),
       |${x}mc AS (SELECT pid, CAST(count(*) AS BIGINT) AS nm
       |       FROM ${x}m GROUP BY pid)""".stripMargin
  }

  val sql: String =
    s"""WITH corpus0 AS (SELECT doc_id, text FROM documents),
       |wa AS (
       |  SELECT doc_id + 10000 AS doc_id, text || ' tail tail' AS text
       |  FROM documents WHERE doc_id < 30
       |  UNION ALL
       |  SELECT doc_id + 10000, upper(text) FROM documents
       |  WHERE doc_id >= 30 AND doc_id < 60),
       |${gate("a_", "wa", "corpus0")},
       |acc AS (SELECT doc_id, text FROM corpus0
       |        UNION ALL
       |        SELECT doc_id, text FROM wa
       |        WHERE doc_id NOT IN (SELECT pid FROM a_mc)),
       |wb AS (
       |  SELECT doc_id + 20000 AS doc_id, upper(text) || ' tail' AS text
       |  FROM documents WHERE doc_id >= 30 AND doc_id < 45
       |  UNION ALL
       |  SELECT doc_id + 20000,
       |         array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |  FROM documents WHERE doc_id >= 60 AND doc_id < 70),
       |${gate("b_", "wb", "acc")}
       |SELECT 'A' AS wave, wa.doc_id, coalesce(a_mc.nm, 0) AS n_dup_of,
       |       a_mc.nm IS NULL AS survived
       |FROM wa LEFT JOIN a_mc ON a_mc.pid = wa.doc_id
       |UNION ALL
       |SELECT 'B', wb.doc_id, coalesce(b_mc.nm, 0), b_mc.nm IS NULL
       |FROM wb LEFT JOIN b_mc ON b_mc.pid = wb.doc_id
       |ORDER BY wave, doc_id""".stripMargin
}

/** Oracle for q150: the q103 unrolled-GD pattern generalized to 8 hashed
  * bag-of-words features — feature CTE, per-round gradient/update CTEs with
  * per-row terms quantized to integer 1e-6 units, then scoring with the
  * round-2 weights and the integer-unit keep gate.
  */
private object QualityLrSql {
  import graft.functions.Hashes
  val Buckets = 8
  val GoodSources: Seq[String] = Seq("src0", "src1", "src2", "src3")
  val Lr = 0.5
  val Iters = 2

  private val ks = 0 until Buckets
  private def sig(w: String) =
    s"1/(1+exp(-($w.b${ks.map(k => s" + $w.c$k*f$k").mkString})))"

  private def gradCte(g: String, w: String) = {
    def term(mult: String) =
      s"CAST(sum(CAST(round((${sig(w)} - y)$mult * 1000000, 0) AS BIGINT)) AS BIGINT)"
    s"""$g AS (SELECT ${term("")} AS gb,
       |${ks.map(k => s"             ${term(s" * f$k")} AS g$k").mkString(",\n")}
       |      FROM d, $w)""".stripMargin
  }

  private def updCte(wN: String, w: String, g: String) = {
    def upd(old: String, s: String) =
      s"round($w.$old - $Lr * (CAST($g.$s AS DOUBLE) / 1000000 / nn.n), 9)"
    s"""$wN AS (SELECT ${upd("b", "gb")} AS b,
       |${ks.map(k => s"              ${upd(s"c$k", s"g$k")} AS c$k").mkString(",\n")}
       |       FROM $w, $g, nn)""".stripMargin
  }

  val sql: String = {
    val featCols = ks.map(k =>
      s"CAST(len(list_filter(bk, x -> x = $k)) AS DOUBLE) / nt AS f$k").mkString(",\n       ")
    val goodList = GoodSources.map(s0 => s"'$s0'").mkString(", ")
    val rounds = (1 to Iters).map(r =>
      s"${gradCte(s"g_$r", s"w_${r - 1}")},\n${updCte(s"w_$r", s"w_${r - 1}", s"g_$r")}")
      .mkString(",\n")
    s"""WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
       |d AS (SELECT source,
       |       $featCols,
       |       CASE WHEN source IN ($goodList) THEN 1.0 ELSE 0.0 END AS y
       |      FROM (SELECT source,
       |              list_transform(toks, t -> (${Hashes.tokenHashSql("t")}) % $Buckets) AS bk,
       |              CAST(len(toks) AS DOUBLE) AS nt
       |            FROM t)),
       |nn AS (SELECT count(*) AS n FROM d),
       |w_0 AS (SELECT 0.0 AS b${ks.map(k => s", 0.0 AS c$k").mkString}),
       |$rounds,
       |scored AS (SELECT source,
       |             CAST(round(${sig(s"w_$Iters")} * 1000000, 0) AS BIGINT) AS q
       |           FROM d, w_$Iters)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       |       round(CAST(sum(q) AS DOUBLE) / count(*) / 1000000, 6) + 0.0
       |         AS mean_score,
       |       CAST(count(CASE WHEN q > 500000 THEN 1 END) AS BIGINT) AS n_keep
       |FROM scored GROUP BY source ORDER BY source""".stripMargin
  }
}

/** q152's blocklist: two phrases that occur in a noticeable fraction of the
  * fixture corpus (so the gate demonstrably bites) and vanish in the
  * upper-cased arrival branch (so case sensitivity is exercised).
  */
private object ModeratedSql {
  val Blocklist: Seq[String] = Seq("stream spark", "table scan")
  def blockPredSql(textCol: String): String =
    Blocklist.map(p => s"AND NOT contains($textCol, '$p')").mkString(" ")
}

/** Oracle for q151: three width-specific shingle censuses (max per-doc
  * n-gram count), the q122 interval-union sweep restricted to WITHIN-doc
  * duplicated 5-grams, and the integer-arithmetic keep gate.
  */
private object GopherSql {
  import graft.operators.DupSpans

  private def topCte(n: Int) =
    s"""m$n AS (SELECT doc_id, max(c) AS maxc FROM (
       |  SELECT doc_id, sh, count(*) AS c FROM (
       |    SELECT doc_id, unnest(${DupSpans.shingleHashesSql("toks", n)}) AS sh
       |    FROM t) GROUP BY doc_id, sh) GROUP BY doc_id)""".stripMargin

  val sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |b AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS nt FROM t),
       |${topCte(2)},
       |${topCte(3)},
       |${topCte(4)},
       |d5 AS (SELECT doc_id, ${DupSpans.shingleHashesSql("toks", 5)} AS sh FROM t),
       |s5 AS (SELECT doc_id, i - 1 AS pos, sh[i] AS shingle FROM (
       |  SELECT doc_id, sh, unnest(range(1, len(sh) + 1)) AS i FROM d5)),
       |dup AS (SELECT doc_id, shingle FROM (
       |  SELECT doc_id, shingle, count(*) AS c FROM s5 GROUP BY 1, 2)
       |  WHERE c >= 2),
       |hit AS (SELECT s5.doc_id, s5.pos FROM s5 JOIN dup
       |        USING (doc_id, shingle)),
       |${DupSpans.islandIdsSql(5)},
       |isl AS (SELECT doc_id, island, max(pos) + 4 - min(pos) + 1 AS c
       |        FROM i GROUP BY doc_id, island),
       |cv AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS cov5 FROM isl
       |       GROUP BY doc_id),
       |j AS (SELECT b.doc_id, b.nt,
       |        coalesce(m2.maxc, 0) AS m2v, coalesce(m3.maxc, 0) AS m3v,
       |        coalesce(m4.maxc, 0) AS m4v, coalesce(cv.cov5, 0) AS c5
       |      FROM b LEFT JOIN m2 ON b.doc_id = m2.doc_id
       |             LEFT JOIN m3 ON b.doc_id = m3.doc_id
       |             LEFT JOIN m4 ON b.doc_id = m4.doc_id
       |             LEFT JOIN cv ON b.doc_id = cv.doc_id)
       |SELECT doc_id, nt AS n_tokens,
       |       round(CAST(m2v * 2 AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS top2_frac,
       |       round(CAST(m3v * 3 AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS top3_frac,
       |       round(CAST(m4v * 4 AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS top4_frac,
       |       round(CAST(c5 AS DOUBLE) / CAST(nt AS DOUBLE), 6) AS dup5_frac,
       |       (m2v * 10 < nt AND m3v * 50 < nt * 3 AND
       |        m4v * 25 < nt AND c5 * 20 < nt * 3) AS keep
       |FROM j ORDER BY doc_id""".stripMargin
}

/** DuckDB oracle for q133: q128's island CTEs, then per-island content
  * fingerprints (the same (acc·31 + tokenHash) mod P fold over the covered
  * token slice), a min-(doc_id, start) representative per fingerprint, and
  * the keep-one surgery — only NON-representative islands cut tokens.
  */
private object KeepOneSql {
  import graft.functions.Hashes
  val sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |d0 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |              ${MinHash.shingleHashesSql("toks")} AS sh FROM t),
       |${DupSpans.sweepSql(3)},
       |sp AS (SELECT doc_id, min(pos) AS st, max(pos) + 2 AS en
       |       FROM i GROUP BY doc_id, island),
       |fp AS (SELECT sp.doc_id, sp.st, sp.en,
       |         list_reduce(list_prepend(CAST(0 AS BIGINT),
       |           list_transform(t.toks[sp.st + 1 : sp.en + 1],
       |             tk -> ${Hashes.tokenHashSql("tk")})),
       |           (acc, x) -> (acc * 31 + x) % ${Hashes.Prime}) AS f
       |       FROM sp JOIN t ON t.doc_id = sp.doc_id),
       |cut AS (SELECT doc_id, st, en FROM (
       |  SELECT doc_id, st, en,
       |         row_number() OVER (PARTITION BY f ORDER BY doc_id, st) AS rn
       |  FROM fp) WHERE rn > 1),
       |${DupSpans.removeSpansSql("cut")}""".stripMargin
}

/** DuckDB oracle for q128: q122's island CTEs (3-gram census →
  * interval-union sweep), then the reconstruction — tokens whose position
  * falls in no island, re-joined by single spaces in original order.
  */
private object SpanScrubSql {
  val sql: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |d0 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |              ${MinHash.shingleHashesSql("toks")} AS sh FROM t),
       |${DupSpans.sweepSql(3)},
       |sp AS (SELECT doc_id, min(pos) AS st, max(pos) + 2 AS en
       |       FROM i GROUP BY doc_id, island),
       |${DupSpans.removeSpansSql("sp")}""".stripMargin
}

/** DuckDB oracle for q129: the identical synthetic-PII construction from
  * doc_id arithmetic, per-rule match counts on the raw string, and the same
  * sequential regexp_replace fold ([[graft.operators.Redact.redactSql]] —
  * RE2 with the 'g' flag mirrors Spark's replace-all).
  */
private object PiiSql {
  val sql: String =
    s"""WITH r AS (SELECT doc_id,
       |  'contact user' || doc_id || '@mail' || (doc_id % 7) ||
       |  '.example.com from 10.' || (doc_id % 256) || '.0.' ||
       |  (doc_id % 100) || ' call 555-' || (doc_id % 9000 + 1000) ||
       |  ' :: ' || text AS raw
       |  FROM documents)
       |SELECT doc_id,
       |       ${Redact.matchCountSql("raw", Redact.Email)} AS n_email,
       |       ${Redact.matchCountSql("raw", Redact.Ipv4)} AS n_ip,
       |       ${Redact.matchCountSql("raw", Redact.Phone)} AS n_phone,
       |       ${Redact.redactSql("raw")} AS redacted
       |FROM r ORDER BY doc_id""".stripMargin
}

/** DuckDB oracle for q124: [[graft.operators.DupSpans]] at width 50 over
  * the arithmetic long-doc fixture — same CTE pipeline as q122's oracle
  * with the span end at pos + 49.
  */
private object DupSpansW50Sql {
  import graft.operators.DupSpans
  private val W = 50

  val sql: String =
    s"""WITH docs AS (${DupSpans.syntheticLongDocsSql()}),
       |d0 AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |              ${DupSpans.shingleHashesSql("toks", W)} AS sh FROM docs),
       |${DupSpans.sweepSql(W)},
       |${DupSpans.coverageSql(W, "n_tokens")}""".stripMargin
}
