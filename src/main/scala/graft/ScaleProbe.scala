package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe: times representative plan shapes at 1× and 10× sf0.1 (the
  * 10× side is the same parquet unioned with shifted keys — same value
  * distributions, 10× the rows) and prints the observed scaling exponent.
  * A plan that "would survive 100 TB" should be ~linear (exponent ≈ 1);
  * anything super-linear here is a red flag long before cluster scale.
  *
  * Usage: runMain graft.ScaleProbe [sfDir] [shape1,shape2,...]
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only: Option[Set[String]] =
      args.lift(1).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local(32, appName = "graft-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    def li(mult: Int): DataFrame = {
      val base = Tables.lineitem(spark, sfDir)
      (0 until mult).map(k =>
        base.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 10_000_000L)))
        .reduce(_ unionAll _)
    }
    def mat(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(f: => DataFrame): Double = {
      val t0 = System.nanoTime(); mat(f); (System.nanoTime() - t0) / 1e9
    }

    // the q178/q184/q187 spatial graph, m disjoint x-shifted copies — same
    // density and per-copy structure at every multiplier
    def spatialEdges(m: Int): DataFrame = {
      import graft.functions.Hashes
      val base = Tables.customer(spark, sfDir)
      val pts = (0 until m).map { k =>
        base.select((col("c_custkey") + lit(k.toLong * 10_000_000L)).as("id"),
          (Hashes.mulHash(col("c_custkey"), 11) % 1000
            + lit(k.toLong * 2000L)).as("x"),
          (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
      }.reduce(_ unionAll _)
      val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
        yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
      val a = pts
        .select(col("id").as("u"), col("x").as("ax"), col("y").as("ay"),
          explode(offsets).as("off"))
        .select(col("u"), col("ax"), col("ay"),
          (expr("ax div 25") + col("off.dx")).as("cx"),
          (expr("ay div 25") + col("off.dy")).as("cy"))
      val b = pts.select(col("id").as("v"), col("x").as("bx"),
        col("y").as("by"), expr("bx div 25").as("cx"), expr("by div 25").as("cy"))
      a.join(b, Seq("cx", "cy"))
        .where(col("u") < col("v")
          && (col("ax") - col("bx")) * (col("ax") - col("bx"))
             + (col("ay") - col("by")) * (col("ay") - col("by")) <= 625)
        .select("u", "v")
    }

    // nsw_upsert fixtures cached per multiplier — built on the first rep,
    // so the min-of-2 reflects the pure upsert (see the shape comment)
    val upsertFixtures = scala.collection.mutable.Map
      .empty[Int, (DataFrame, DataFrame, DataFrame, DataFrame)]
    // disk_walk index dirs cached per multiplier (same first-rep discipline)
    val diskWalkFixtures = scala.collection.mutable.Map.empty[Int, String]
    val diskFilesFixtures = scala.collection.mutable.Map.empty[Int, String]

    lazy val pqCb = graft.operators.Pq.fit(
      Tables.embeddings(spark, sfDir).where(col("vec_id") < 2000),
      "vec_id", "embedding", 64, 8, 16, 1)
    lazy val pqQueries = Tables.embeddings(spark, sfDir).where(col("vec_id") < 5)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq

    // representative shapes: scan+filter+project, hash agg, flagship
    // filter→histogram→window, global sort
    val shapes: Seq[(String, Int => DataFrame)] = Seq(
      "scan_project" -> (m => li(m).select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("net"))),
      "hash_agg" -> (m => li(m).groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)), sum("l_quantity"), avg("l_extendedprice"))),
      "histogram_window" -> { m =>
        import org.apache.spark.sql.expressions.Window
        val binned = li(m).where(col("l_quantity") < 40)
          .groupBy(floor(col("l_discount") * 100).as("bin"))
          .agg(count(lit(1)).as("cnt"))
        binned.withColumn("cum",
          sum("cnt").over(Window.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      },
      "global_sort" -> (m => li(m).orderBy("l_extendedprice")),
      // iterative graph rounds (q61/q81 family): key-shifted union = m
      // disjoint copies, so V/E scale by m with identical structure; the
      // probe is PINNED to exactly 5 propagation rounds (no convergence
      // test) so the timed work is rounds × O(E) at every multiplier and
      // the exponent cannot absorb round-count or scheduler variance
      "cc_rounds" -> { m =>
        val edges = li(m).select(col("l_orderkey").as("src"),
          (col("l_partkey") + lit(20_000_000L) +
            (col("l_orderkey") / lit(10_000_000L)).cast("long") * 10_000_000L).as("dst"))
        graft.operators.Components.propagateRounds(edges, "src", "dst", rounds = 5)
      },
      // shingle-hash equi-join (q101 contamination / LSH-family shape):
      // explode → distinct both sides → join on the 64-bit hash → groupBy
      "shingle_join" -> { m =>
        val docs = {
          val base = Tables.documents(spark, sfDir)
          (0 until m).map(k => base.withColumn("doc_id",
            col("doc_id") + lit(k.toLong * 1_000_000L))).reduce(_ unionAll _)
        }
        import org.apache.spark.sql.GraftColumnBridge
        import graft.functions.ShingleExplodeExpr
        val gen = GraftColumnBridge.column(ShingleExplodeExpr(
          GraftColumnBridge.expression(split(col("text"), " ", -1))))
        val sh = docs.select(col("doc_id"), gen.as(Seq("pos", "sh")))
          .select(col("doc_id"), col("sh"))
        val test = sh.where(col("doc_id") % 5 === 0).distinct()
        val train = sh.where(col("doc_id") % 5 =!= 0).select("sh").distinct()
        test.join(train, "sh").groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      },
      // Misra-Gries heavy-hitters (q107 family): per-partition O(k) sketch
      // state, one ≤ k-entry summary per partition to the merge — wall
      // clock should track the SCAN, not the key cardinality
      "mg_sketch" -> (m => li(m).select(col("l_returnflag").as("item"))
        .agg(graft.functions.MisraGries.candidates(col("item"), 4).as("c"))),
      // Count-Min sketch (q134 family): fixed O(depth·width) matrix per
      // partition, elementwise-add merge — like mg_sketch, wall clock must
      // track the scan; the matrix never grows with rows or keys
      "cms_sketch" -> (m => li(m)
        .select((col("l_partkey") % 1000).cast("string").as("item"))
        .agg(graft.functions.CountMin.sketch(col("item"), 4, 512).as("sk"))),
      // boilerplate census (q109 family): explode → count-distinct census →
      // small census set broadcast back over the exploded stream
      "boiler_census" -> { m =>
        val docs = {
          val base = Tables.documents(spark, sfDir)
          (0 until m).map(k => base.withColumn("doc_id",
            col("doc_id") + lit(k.toLong * 1_000_000L))).reduce(_ unionAll _)
        }
        val sh = docs.select(col("doc_id"),
          explode(graft.operators.MinHash.shingleHashes(
            split(col("text"), " ", -1))).as("sh"))
        val boiler = sh.groupBy("sh")
          .agg(countDistinct("doc_id").as("nd")).where(col("nd") >= 3)
          .select(col("sh").as("bl"))
        sh.join(broadcast(boiler), sh("sh") === col("bl"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n"), count(col("bl")).as("nb"))
      },
      // DSIR scoring (q144/q145 family): token explode → two 64-row hashed
      // feature distributions (constant size ⇒ broadcast ratio join) →
      // exact integer per-doc aggregate → top-k; wall clock must track the
      // token scan, never the corpus×bucket product
      "dsir_score" -> { m =>
        val docs = {
          val base = Tables.documents(spark, sfDir)
          (0 until m).map(k => base.withColumn("doc_id",
            col("doc_id") + lit(k.toLong * 1_000_000L))).reduce(_ unionAll _)
        }
        graft.operators.Dsir.select(
          docs, col("source") === "src0", buckets = 64, k = 50)
      },
      // Aho–Corasick blocklist scan (q149 family): the automaton ships
      // plan-embedded, every document is scanned ONCE for all K patterns —
      // wall clock must track the text scan, independent of K and with no
      // join or shuffle until the K-row aggregate
      "ac_scan" -> { m =>
        val docs = {
          val base = Tables.documents(spark, sfDir)
          (0 until m).map(k => base.withColumn("doc_id",
            col("doc_id") + lit(k.toLong * 1_000_000L))).reduce(_ unionAll _)
        }
        val ps = Seq("batch stream", "hash join", "merge part", "slow query",
          "spark", "stream spark", "table scan", "vector")
        docs.select(posexplode(
            graft.functions.MultiMatch.multi_count(col("text"), ps))
            .as(Seq("idx", "n")))
          .groupBy("idx")
          .agg(count(when(col("n") > 0, 1)).as("n_docs"), sum("n").as("n_hits"))
      },
      // grid-bucketed spatial self-join (q178 family): cell equi-join with
      // 3×3 neighbor explode. Each extra copy gets its own disjoint plane
      // region (x offset per copy), so point DENSITY — which governs both
      // candidate count and true output — stays constant and the fair
      // expectation is linear; piling copies into one plane would grow the
      // true result itself quadratically and measure the answer, not the plan
      "spatial_grid" -> { m =>
        import graft.functions.Hashes
        val base = Tables.customer(spark, sfDir)
        val pts = (0 until m).map { k =>
          base.select((col("c_custkey") + lit(k.toLong * 10_000_000L)).as("id"),
            (Hashes.mulHash(col("c_custkey"), 11) % 1000
              + lit(k.toLong * 2000L)).as("x"),
            (Hashes.mulHash(col("c_custkey"), 13) % 1000).as("y"))
        }.reduce(_ unionAll _)
        val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
          yield struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
        val a = pts
          .select(col("id").as("a_id"), col("x").as("ax"), col("y").as("ay"),
            explode(offsets).as("off"))
          .select(col("a_id"), col("ax"), col("ay"),
            (expr("ax div 25") + col("off.dx")).as("cx"),
            (expr("ay div 25") + col("off.dy")).as("cy"))
        val b = pts.select(col("id").as("b_id"), col("x").as("bx"),
          col("y").as("by"), expr("bx div 25").as("cx"), expr("by div 25").as("cy"))
        a.join(b, Seq("cx", "cy"))
          .where(col("a_id") < col("b_id")
            && (col("ax") - col("bx")) * (col("ax") - col("bx"))
               + (col("ay") - col("by")) * (col("ay") - col("by")) <= 625)
          .groupBy(lit(1)).agg(count(lit(1)).as("n_pairs"))
      },
      // PQ ADC scan (q125/q127 family): codegen'd encode (zero shuffle) →
      // posexplode ×m → broadcast LUT join → per-(query, vector) integer
      // aggregate — the compressed-corpus ANN path; should track the scan
      "pq_adc" -> { m =>
        val emb = {
          val base = Tables.embeddings(spark, sfDir)
          (0 until m).map(k => base.withColumn("vec_id",
            col("vec_id") + lit(k.toLong * 10_000_000L))).reduce(_ unionAll _)
        }
        // codebooks/queries are fixed sample-trained statistics (computed
        // once, lazily, outside the timed region) — the probe measures the
        // per-vector encode+score scan, the part that scales with the corpus
        graft.operators.Pq.adcTopK(
          graft.operators.Pq.encode(emb, "vec_id", "embedding", pqCb),
          graft.operators.Pq.adcTables(spark, pqQueries, pqCb), 50)
      },
      // exact top-k per group, heap aggregate (q186): map-side partials
      // forward ≤ k entries per group per partition — the exchange carries
      // O(groups·k·partitions) rows no matter how many input rows
      "topk_heap" -> { m =>
        import graft.functions.TopK
        li(m).groupBy("l_returnflag", "l_linestatus")
          .agg(TopK.topKBy(col("l_orderkey"),
            round(col("l_extendedprice") * 100, 0).cast("long"), 5).as("top"))
      },
      // the same answer through the rank window (q64's shape): EVERY row
      // shuffles into its group's partition and sorts — with 6 groups the
      // sort lands on 6 tasks; the contrast with topk_heap is the point
      "topk_window" -> { m =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("l_returnflag", "l_linestatus")
          .orderBy(col("p").desc, col("l_orderkey"))
        li(m).select(col("l_returnflag"), col("l_linestatus"),
            col("l_orderkey"),
            round(col("l_extendedprice") * 100, 0).cast("long").as("p"))
          .withColumn("rn", row_number().over(w)).where(col("rn") <= 5)
      },
      // triangle counting (q184): degree census + orientation joins + wedge
      // self-join + closing-edge join over the spatial graph (disjoint
      // x-shifted copies keep density and per-copy structure constant)
      "triangle_wedge" -> { m =>
        val e0 = spatialEdges(m)
        val deg = e0.select(col("u").as("id"))
          .unionAll(e0.select(col("v").as("id")))
          .groupBy("id").agg(count(lit(1)).as("dg"))
        val du = deg.withColumnsRenamed(Map("id" -> "u", "dg" -> "du"))
        val dv = deg.withColumnsRenamed(Map("id" -> "v", "dg" -> "dv"))
        val uFirst = col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v"))
        val o = e0.join(du, Seq("u")).join(dv, Seq("v"))
          .select(when(uFirst, col("u")).otherwise(col("v")).as("src"),
            when(uFirst, col("v")).otherwise(col("u")).as("dst"),
            when(uFirst, col("dv")).otherwise(col("du")).as("ddst"))
        val w = o.as("x").join(o.as("y"),
            col("x.src") === col("y.src")
              && (col("x.ddst") < col("y.ddst")
                || (col("x.ddst") === col("y.ddst")
                  && col("x.dst") < col("y.dst"))))
          .select(col("x.dst").as("a"), col("y.dst").as("b"))
        w.join(o, col("a") === col("src") && col("b") === col("dst"))
          .groupBy(lit(1)).agg(count(lit(1)).as("n_triangles"))
      },
      // k-core peel rounds (q187): two pinned peel rounds — degree census +
      // two semi-joins each, edge set shrinking monotonically
      "kcore_peel" -> { m =>
        graft.operators.KCore.peel(spatialEdges(m), k = 2, rounds = 2).last
      },
      // native as-of join (q241): two key exchanges + per-partition sorted
      // merge, right side streamed at most once per partition — wall clock
      // must track |L| + |R|, never |L| × per-key-right-rows
      "native_asof" -> { m =>
        val ev = li(m)
        val l = ev.select(col("l_orderkey").as("k"),
          col("l_partkey").cast("long").as("t"), col("l_extendedprice"))
        val r = ev.select(col("l_orderkey").as("rk"),
            (col("l_partkey") - 1).cast("long").as("rt"),
            col("l_suppkey").cast("long").as("s"))
          .groupBy("rk", "rt").agg(max("s").as("pay"))
        graft.plans.NativeAsof.join(l, r, "k", "rk", "t", "rt")
      },
      // sorted-group recurrence (q233 family): one exchange keyed by the
      // series + secondary sort inside it, O(1) state per key — the
      // flatMapSortedGroups scan must track rows, not groups × rows
      "sorted_group_scan" -> { m =>
        import spark.implicits._
        val d = li(m).select(col("l_returnflag").as("g"),
            col("l_orderkey").as("o"), col("l_linenumber").cast("long").as("y"))
          .as[(String, Long, Long)]
        d.groupByKey(_._1).flatMapSortedGroups(col("o")) { (k, it) =>
          var s = 0L
          it.map { case (_, o, y) => s = (s + y) / 2; (k, o, s) }
        }.toDF("g", "o", "s")
      },
      // NSW graph BUILD (q266): LSH band-bucket seed + one NN-descent
      // round over synthetic hash vectors — candidate work is bands ×
      // capped-bucket per vector for the seed and (2k)² per vector per
      // round, both linear in the corpus; the exponent must sit near 1,
      // nowhere near the all-pairs build's 2
      "nsw_build" -> { m =>
        import graft.functions.Hashes
        val n = m * 20000L
        val dim = 16
        val vecs = spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            d => (Hashes.mulHash(col("id") * 131L + d, 19) % 1000)
              .cast("double") / 1000.0d).as("embedding"))
        graft.operators.NswGraph.buildRefined(vecs, "vec_id", "embedding",
          dim, bands = 8, rbits = 6, seed = 11L, cap = 64,
          kInternal = 8, rounds = 1, deg = 8)
      },
      // NSW incremental UPSERT (q290): a FIXED 1000-vector batch links into
      // a pre-built graph over an m×20k corpus. The base graph + the stored
      // signature relation (the production posture: the index persists its
      // signatures) are built and persisted on first touch per multiplier —
      // the first rep pays the build, min-of-2 keeps the pure-upsert rep.
      // Upsert work = batch band probe + affected neighborhoods + two local
      // refine rounds; the only corpus-sized stages are the census groupBy
      // and the candidate equi-join SCAN of the signature relation, so the
      // exponent must sit far below the build's (≈0.33), let alone 1
      "nsw_upsert" -> { m =>
        import graft.functions.Hashes
        import graft.operators.NswGraph
        val n = m * 20000L
        val dim = 16
        def vecs(lo: Long, hi: Long): DataFrame =
          spark.range(lo, hi).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(dim - 1)),
              d => (Hashes.mulHash(col("id") * 131L + d, 19) % 1000)
                .cast("double") / 1000.0d).as("embedding"))
        val (base, batch, baseGraph, sigs) =
          upsertFixtures.getOrElseUpdate(m, {
            val base = vecs(1000, n).persist()
            base.count(): Unit
            val batch = vecs(0, 1000).persist()
            batch.count(): Unit
            val g = NswGraph.buildRefined(base, "vec_id", "embedding", dim,
              bands = 8, rbits = 6, seed = 11L, cap = 64,
              kInternal = 8, rounds = 1, deg = 8).persist()
            g.count(): Unit
            val s = NswGraph.signatures(
              base.unionByName(batch), "vec_id", "embedding", dim,
              bands = 8, rbits = 6, seed = 11L).persist()
            s.count(): Unit
            (base, batch, g, s)
          })
        NswGraph.upsert(base, batch, baseGraph, "vec_id", "embedding", dim,
          bands = 8, rbits = 6, seed = 11L, cap = 64, kInternal = 8,
          deg = 8, allSigs = Some(sigs))
      },
      // Disk-resident ANN walk (q293): index pre-WRITTEN to parquet on the
      // first rep (min-of-2 keeps the pure search), then the beam walk
      // reads only visited neighborhoods via pushed In filters — search
      // time and IO must be corpus-size-INDEPENDENT (the DiskANN claim);
      // a 10× corpus adds row groups the filters never touch
      "disk_walk" -> { m =>
        import graft.functions.Hashes
        import graft.operators.DiskAnn
        val n = m * 100000L
        val dim = 16
        val dir = diskWalkFixtures.getOrElseUpdate(m, {
          val d = java.nio.file.Files
            .createTempDirectory(s"graft_diskwalk_$m").toString
          val graph = spark.range(n).select(col("id").as("vid"))
            .select(col("vid"), explode(sequence(lit(0), lit(7))).as("j"))
            .select(col("vid").as("src"),
              (Hashes.mulHash(col("vid") * 8 + col("j"), 37) % n).as("dst"))
          val vecs = spark.range(n).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(dim - 1)),
              dd => ((Hashes.mulHash(col("id") * 131L + dd, 19) % 1000)
                .cast("double") / 1000.0d).cast("float")).as("embedding"))
          DiskAnn.writeIndex(graph, vecs, "vec_id", "embedding", d,
            buckets = 16)
          d
        })
        val queries = (0L until 20L).map { q =>
          q -> Array.tabulate(dim)(dd =>
            (Hashes.mulHashLong(q * 131L + dd, 19) % 1000).toFloat / 1000f)
        }
        val (found, io) = DiskAnn.search(spark, dir, queries, entry = 0L,
          hops = 6, beam = 16)
        import spark.implicits._
        System.err.println(s"[disk_walk m=$m] io=$io found=${found.size}")
        found.toDF("qid", "vid")
      },
      // DISTRIBUTED disk walk (q301): same index, same pushed-In access
      // path, but expansion/scoring/top-beam run as executor-side
      // DataFrame ops — the serving-fleet posture. Must stay as
      // corpus-size-independent as the driver walk: the driver handles
      // only frontier ids, and the per-hop job cost is queries × beam ×
      // degree rows regardless of n
      "disk_walk_dist" -> { m =>
        import graft.functions.Hashes
        import graft.operators.DiskAnn
        val n = m * 100000L
        val dim = 16
        val dir = diskWalkFixtures.getOrElseUpdate(m, {
          val d = java.nio.file.Files
            .createTempDirectory(s"graft_diskwalk_$m").toString
          val graph = spark.range(n).select(col("id").as("vid"))
            .select(col("vid"), explode(sequence(lit(0), lit(7))).as("j"))
            .select(col("vid").as("src"),
              (Hashes.mulHash(col("vid") * 8 + col("j"), 37) % n).as("dst"))
          val vecs = spark.range(n).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(dim - 1)),
              dd => ((Hashes.mulHash(col("id") * 131L + dd, 19) % 1000)
                .cast("double") / 1000.0d).cast("float")).as("embedding"))
          DiskAnn.writeIndex(graph, vecs, "vec_id", "embedding", d,
            buckets = 16)
          d
        })
        import graft.functions.Tensors
        val qdf = spark.range(20).select(col("id").as("qid"),
            transform(sequence(lit(0), lit(dim - 1)),
              dd => ((Hashes.mulHash(col("id") * 131L + dd, 19) % 1000)
                .cast("double") / 1000.0d).cast("float")).as("qe"))
          .withColumn("qn", Tensors.norm(col("qe")))
        val (frontier, io) = DiskAnn.searchDistributed(spark, dir, qdf,
          entry = 0L, hops = 6, beam = 16)
        System.err.println(s"[disk_walk_dist m=$m] io=$io")
        frontier
      },
      // FLEET disk walk (q402): the multiplier scales the QUERY BATCH
      // (3 → 30 queries) with slices = queries over a FIXED 100k corpus —
      // the claim is wall-time FLAT in query count up to the executor
      // count, because each task walks its own slice independently
      // (task-local parquet point reads, no driver orchestration). The
      // corpus-independence claim is disk_walk's; this row isolates the
      // query-parallelism claim
      "fleet_serve" -> { m =>
        import graft.functions.{Hashes, Tensors}
        import graft.operators.DiskAnn
        val dim = 16
        val dir = diskWalkFixtures.getOrElseUpdate(1, {
          val n = 100000L
          val d = java.nio.file.Files
            .createTempDirectory("graft_diskwalk_1").toString
          val graph = spark.range(n).select(col("id").as("vid"))
            .select(col("vid"), explode(sequence(lit(0), lit(7))).as("j"))
            .select(col("vid").as("src"),
              (Hashes.mulHash(col("vid") * 8 + col("j"), 37) % n).as("dst"))
          val vecs = spark.range(n).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(dim - 1)),
              dd => ((Hashes.mulHash(col("id") * 131L + dd, 19) % 1000)
                .cast("double") / 1000.0d).cast("float")).as("embedding"))
          DiskAnn.writeIndex(graph, vecs, "vec_id", "embedding", d,
            buckets = 16)
          d
        })
        val nq = m * 3
        val qdf = spark.range(nq).select(col("id").as("qid"),
            transform(sequence(lit(0), lit(dim - 1)),
              dd => ((Hashes.mulHash(col("id") * 131L + dd, 19) % 1000)
                .cast("double") / 1000.0d).cast("float")).as("qe"))
          .withColumn("qn", Tensors.norm(col("qe")))
        val ea = spark.sparkContext.longAccumulator(s"fleet_e_$m")
        val va = spark.sparkContext.longAccumulator(s"fleet_v_$m")
        val out = DiskAnn.searchFleet(spark, dir, qdf, entry = 0L,
          hops = 6, beam = 16, slices = nq, ea, va)
        out
      },
      // FLEET walk vs PART-FILE COUNT: fixed 100k corpus, fixed 6 queries,
      // the multiplier scales only how many part files the index is split
      // into (24 → 240). The executor-side footer cache prunes files whose
      // row-group id ranges cannot hold a probed id BEFORE any open, so
      // reader opens track visited row groups — per-hop open cost must
      // stay flat in file count (HANDOFF r9 named this gap; a cacheless
      // walk pays O(hops × files) opens). Opens are printed from
      // DiskAnn.filesOpened (same JVM at local[32])
      "fleet_files" -> { m =>
        import graft.functions.{Hashes, Tensors}
        import graft.operators.DiskAnn
        val dim = 16
        val dir = diskFilesFixtures.getOrElseUpdate(m, {
          val n = 100000L
          val d = java.nio.file.Files
            .createTempDirectory(s"graft_fleetfiles_$m").toString
          val graph = spark.range(n).select(col("id").as("vid"))
            .select(col("vid"), explode(sequence(lit(0), lit(7))).as("j"))
            .select(col("vid").as("src"),
              (Hashes.mulHash(col("vid") * 8 + col("j"), 37) % n).as("dst"))
          val vecs = spark.range(n).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(dim - 1)),
              dd => ((Hashes.mulHash(col("id") * 131L + dd, 19) % 1000)
                .cast("double") / 1000.0d).cast("float")).as("embedding"))
          DiskAnn.writeIndex(graph, vecs, "vec_id", "embedding", d,
            buckets = m * 24)
          d
        })
        val qdf = spark.range(6).select(col("id").as("qid"),
            transform(sequence(lit(0), lit(dim - 1)),
              dd => ((Hashes.mulHash(col("id") * 131L + dd, 19) % 1000)
                .cast("double") / 1000.0d).cast("float")).as("qe"))
          .withColumn("qn", Tensors.norm(col("qe")))
        val ea = spark.sparkContext.longAccumulator(s"ff_e_$m")
        val va = spark.sparkContext.longAccumulator(s"ff_v_$m")
        // filesOpened is JVM-global: the reset → localCheckpoint window
        // assumes THIS probe is the only DiskAnn.localRead activity in the
        // shared JVM (true under the probe runner, which runs legs
        // sequentially); a concurrent DiskAnn query would inflate `opens`.
        // Diagnostic only — the timed result is `out`, not the counter.
        DiskAnn.filesOpened.reset()
        val out = DiskAnn.searchFleet(spark, dir, qdf, entry = 0L,
          hops = 6, beam = 16, slices = 6, ea, va).localCheckpoint()
        System.err.println(s"[fleet_files m=$m] opens=" +
          s"${DiskAnn.filesOpened.sum} files=${m * 24 * 2}")
        out
      },
      // ExactSubstr maximal repeats (q435): anchors are 8-byte fold hashes
      // (census O(tokens)), every doc pair (2i, 2i+1) shares one 80-token
      // run unique to the pair — bucket sizes stay 2 at ANY corpus size,
      // so candidate pairs and extension work grow linearly with docs,
      // never quadratically. The shape must track the census families
      // (exponent ≈ 1), proving the operator is anchor-census-bound
      "exact_substr" -> { m =>
        val n = m * 1000L
        val docs = spark.range(n).select(col("id").as("doc_id"),
          transform(sequence(lit(0), lit(399)), t =>
            when(t.between(100, 179),
              concat(lit("r"), (col("id") / 2).cast("long"), lit("_"), t))
              .otherwise(concat(lit("u"), col("id"), lit("_"), t)))
            .as("toks"))
        graft.operators.ExactSubstr.maximalRepeats(docs, col("doc_id"),
            col("toks"), minLen = 8, cap = 16)
          .groupBy().agg(count(lit(1)).as("n_repeats"),
            sum("len_tokens").as("tok_sum"))
      },
      // ExactSubstr under BOILERPLATE SKEW — the census-cap stress the
      // pairwise fixture above never exercises: every doc shares a
      // corpus-wide 60-token banner (bucket size = n, far over cap at any
      // multiplier — the census must DROP it in the map-side partial
      // without ever forming pairs), a 32-doc license block (2× cap,
      // dropped), and a 16-doc block exactly AT cap (kept: 120 pairs per
      // group, each collapsing to ONE run-head extension — linear in n),
      // plus the pair-unique run that produces baseline output. A
      // formulation that paired before capping would go quadratic in the
      // banner's sharers; this must stay census-bound (exponent ≈ 1).
      "exact_substr_skew" -> { m =>
        val n = m * 1000L
        val docs = spark.range(n).select(col("id").as("doc_id"),
          transform(sequence(lit(0), lit(399)), t =>
            when(t.between(0, 59), concat(lit("banner_"), t))
              .when(t.between(100, 139),
                concat(lit("lic"), (col("id") / 32).cast("long"),
                  lit("_"), t))
              .when(t.between(200, 239),
                concat(lit("cap"), (col("id") / 16).cast("long"),
                  lit("_"), t))
              .when(t.between(300, 379),
                concat(lit("r"), (col("id") / 2).cast("long"), lit("_"), t))
              .otherwise(concat(lit("u"), col("id"), lit("_"), t)))
            .as("toks"))
        graft.operators.ExactSubstr.maximalRepeats(docs, col("doc_id"),
            col("toks"), minLen = 8, cap = 16)
          .groupBy().agg(count(lit(1)).as("n_repeats"),
            sum("len_tokens").as("tok_sum"))
      },
      // Bradley–Terry MM fit (q455): the corpus-sized work is ONE census
      // pass over the match log (win + unordered-pair aggregates); the
      // pair census is bounded by players² = 4096 rows at ANY log size, so
      // the 4 MM rounds cost O(1) in the corpus — the shape must track the
      // hash-aggregate family, with rounds contributing a constant
      "bt_fit" -> { m =>
        import graft.functions.Hashes
        import graft.operators.BradleyTerry
        val n = m * 300000L
        val players = 64
        val matches = spark.range(n).select(
            (Hashes.mulHash(col("id"), 3) % players).as("pa"),
            Hashes.mulHash(col("id"), 5).as("h5"),
            (Hashes.mulHash(col("id"), 7) % 2).as("awin"))
          .select(col("pa"),
            ((col("pa") + 1 + col("h5") % (players - 1)) % players).as("pb"),
            col("awin"))
        BradleyTerry.fit(spark, matches,
          spark.range(players.toLong).toDF("player"), players, rounds = 4)
      },
      // Bradley–Terry PLAYERS-scaling leg (bt_fit scales the LOG; this
      // scales k — the arena regime where the ladder itself grows to 1e4
      // models at m=10). The pair census is min(matches, ~players²/2) rows
      // — log-bounded here since the log is FIXED — so per-round join cost
      // is flat in k and only the k-row strengths broadcast + collect grow
      // (linearly, in KB). Exponent must sit near 0; the k-row-collect
      // posture's documented bound is players ≲ 1e7 (a 10 MB-class
      // broadcast/collect per round — past that the strengths relation
      // should stay distributed and the renormalize become an engine agg).
      "bt_players" -> { m =>
        import graft.functions.Hashes
        import graft.operators.BradleyTerry
        val players = m * 1000
        val n = 600000L
        val matches = spark.range(n).select(
            (Hashes.mulHash(col("id"), 3) % players).as("pa"),
            Hashes.mulHash(col("id"), 5).as("h5"),
            (Hashes.mulHash(col("id"), 7) % 2).as("awin"))
          .select(col("pa"),
            ((col("pa") + 1 + col("h5") % (players - 1)) % players).as("pb"),
            col("awin"))
        BradleyTerry.fit(spark, matches,
          spark.range(players.toLong).toDF("player"), players, rounds = 4)
      },
      // Quantile sketch (q400): bottom-k rank sample as a map-side-partial
      // aggregate — the exchange carries ≤ k pairs per group whatever the
      // input size, so the shape must track the hash-aggregate family
      "qsketch" -> { m =>
        import graft.functions.{Hashes, QuantileSketch}
        val n = m * 600000L
        val d = spark.range(n).select(
          (col("id") % 3).cast("string").as("g"),
          Hashes.mulHash(col("id"), 101).as("h"),
          (Hashes.mulHash(col("id"), 7) % 100000).as("x"))
        d.groupBy("g").agg(
          QuantileSketch.qsketch(1024)(col("h"), col("x")).as("pairs"))
          .select(col("g"), size(col("pairs")).as("n2"))
      },
      // Vamana α-occlusion prune (q297): per-node k² pair cosines + the
      // greedy fold — O(n·k²) rows, one exchange on the node key; must
      // scale like the other per-node-bounded shapes, nowhere near
      // quadratic in the corpus
      "robust_prune" -> { m =>
        import graft.functions.Hashes
        val n = m * 20000L
        val dim = 16
        val vecs = spark.range(n).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)),
            d => (Hashes.mulHash(col("id") * 131L + d, 19) % 1000)
              .cast("double") / 1000.0d).as("embedding"))
        val wide = spark.range(n).select(col("id").as("vid"))
          .select(col("vid"), explode(sequence(lit(0), lit(11))).as("j"))
          .select(col("vid").as("src"),
            (Hashes.mulHash(col("vid") * 12 + col("j"), 37) % n).as("dst"))
          .where(col("src") =!= col("dst"))
        graft.operators.NswGraph.robustPrune(wide, vecs, "vec_id",
          "embedding", deg = 6)
      },
      // NSW beam WALK (q260): the graph is pre-built AND materialized
      // OUTSIDE the timed frame — the probe measures the SEARCH, whose
      // cost is hops × beam × degree per query regardless of corpus size;
      // a 10× graph should cost ~the same to walk (the whole point of
      // graph ANN). Synthetic hash graph — structure-free, but the join
      // shape is q260's exactly
      "nsw_walk" -> { m =>
        import graft.functions.Hashes
        import org.apache.spark.sql.expressions.Window
        val n = m * 100000L
        val graph = spark.range(n).select(col("id").as("vid"))
          .select(col("vid"), explode(sequence(lit(0), lit(7))).as("j"))
          .select(col("vid").as("src"),
            (Hashes.mulHash(col("vid") * 8 + col("j"), 37) % n).as("dst"))
          .persist()
        graph.count(): Unit // build outside the timed walk
        var frontier = spark.range(20)
          .select(col("id").as("qid"), lit(0L).as("vid"))
        val w = Window.partitionBy("qid").orderBy(
          Hashes.mulHash(col("vid") + col("qid") * 131, 41).desc, col("vid"))
        for (_ <- 1 to 6) {
          frontier = frontier.join(graph, col("vid") === col("src"))
            .select(col("qid"), col("dst").as("vid"))
            .unionByName(frontier)
            .distinct()
            .withColumn("rk", row_number().over(w))
            .where(col("rk") <= 16).select("qid", "vid")
            .localCheckpoint()
        }
        frontier
      },

      // q319's PPJoin prefix-filtered exact set-similarity join: every
      // TOKEN is salted with the replica index so growth adds corpus, not
      // duplicates — replicating verbatim would multiply every shingle's
      // document frequency by m and candidate pairs by m² (a property of
      // duplicated data, not of the algorithm under test; a tail-only
      // salt leaves interior shingles shared and measurably explodes)
      "prefix_join" -> { m =>
        import org.apache.spark.sql.expressions.Window
        val docs = {
          val base = Tables.documents(spark, sfDir)
          (0 until m).map(k => base
            .withColumn("doc_id", col("doc_id") + lit(k.toLong * 1_000_000L))
            .withColumn("text",
              regexp_replace(col("text"), "(\\S+)", "$1x" + k)))
            .reduce(_ unionAll _)
        }
        val toksCol = split(col("text"), " ", -1)
        val sx = docs.where(size(toksCol) >= 3)
          .select(col("doc_id"),
            explode(graft.operators.MinHash.shingleHashes(toksCol)).as("h"))
          .distinct().persist()
        val nd = sx.groupBy("doc_id").agg(count(lit(1)).as("n"))
        val df = sx.groupBy("h").agg(count(lit(1)).as("dfc"))
        val pw = Window.partitionBy("doc_id").orderBy(col("dfc"), col("h"))
        val pre = sx.join(df, "h").join(nd, "doc_id")
          .withColumn("rn", row_number().over(pw))
          .where(col("rn") <= col("n") - expr("(7 * n + 9) div 10") + 1)
          .select("doc_id", "h")
        val cand = pre.select(col("doc_id").as("doc_a"), col("h"))
          .join(pre.select(col("doc_id").as("doc_b"), col("h")), "h")
          .where(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
        cand.join(sx.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
          .join(sx.select(col("doc_id").as("doc_b"), col("h").as("hb")),
            "doc_b")
          .where(col("h") === col("hb"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      },

      // PrefixSum.cumsum over the raw lineitem stream — the round-13
      // operator probed directly: range partition on a unique key, P-pair
      // census, offset + local cumsum. The partition-less window it
      // replaces parks EVERYTHING on one task (the q330 probe measured
      // that class before NnMatch's rewrite); the two-pass zip must track
      // the global-sort family (one range exchange + linear scans)
      "prefix_sum" -> { m =>
        val t = li(m).select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
          col("l_quantity").cast("long").as("v"))
        graft.operators.PrefixSum.cumsum(t, Seq(col("k")), "v",
            inclusive = true, sumName = "cum", rnName = Some("rn"))
          .groupBy().agg(count(lit(1)).as("n"), max("cum").as("tot"),
            max("rn").as("maxrn"))
      },

      // PrefixSum.cumsumN — the round-14 multi-walk variant (the ROC
      // shape: k running sums over ONE order in one shuffle + census).
      // Must track the prefix_sum leg exactly: the extra walks add one
      // long per row of census state and k adds per row, never a second
      // exchange
      "prefix_sum_multi" -> { m =>
        val t = li(m).select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
          col("l_quantity").cast("long").as("v"),
          col("l_linenumber").cast("long").as("u"))
        graft.operators.PrefixSum.cumsumN(t, Seq(col("k")),
            Seq("v" -> "cv", "u" -> "cu"), inclusive = true)
          .groupBy().agg(count(lit(1)).as("n"), max("cv").as("tv"),
            max("cu").as("tu"))
      },

      // PrefixSum.cumExtremum — the round-15 prefix-min/max zip (the
      // skyline / running-extremum shape that retired the q304/q321/q390
      // whitelist entries). Identical census machinery to prefix_sum
      // (per-partition extremum census → driver prefix → local walk); the
      // combine is comparisons instead of adds, so the exponent must
      // track prefix_sum's leg exactly — any gap means the extremum walk
      // grew a shuffle the sum walk doesn't have
      "prefix_extremum" -> { m =>
        val t = li(m).select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("v"))
        graft.operators.PrefixSum.cumExtremum(t, Seq(col("k")), "v",
            isMax = false, inclusive = false, outName = "best")
          .groupBy().agg(count(lit(1)).as("n"), min("best").as("tot"))
      },

      // q473 Heaps' law (the corpus-health family's probe leg): token
      // explode → first-occurrence min-aggregate census + the TWO-PASS
      // PrefixSum doc-offset cumsum (round 13's fix — the old partition-
      // less window would park the whole doc relation on one task and
      // show up here as a flat, serial floor). Docs are id-shifted AND
      // token-salted per copy so the vocabulary grows with the corpus —
      // the first-occurrence census does real work at every multiplier.
      // Work is one token pass + a doc-count cumsum + 8 checkpoint
      // probes of the persisted census: the exponent must track the
      // hash-aggregate family (≈ linear), nothing above it
      "heaps_law" -> { m =>
        val docs = {
          val base = Tables.documents(spark, sfDir)
          (0 until m).map(k => base
            .withColumn("doc_id", col("doc_id") + lit(k.toLong * 1_000_000L))
            .withColumn("text",
              regexp_replace(col("text"), "(\\S+)", "$1x" + k)))
            .reduce(_ unionAll _)
        }
        graft.queries.TextQueries.heapsLaw(docs)
      },

      // operators/NnMatch 1-D nearest-neighbor matching: one range-
      // partitioned sort + two running-edge windows — the probe confirms
      // the no-quadratic-join claim holds as n grows (n log n sort)
      "nn_match" -> { m =>
        val o = li(m).select(
          (col("l_orderkey") * 8 + col("l_linenumber")).as("k"),
          round(col("l_extendedprice") * 100, 0).cast("long").as("x"),
          when(col("l_returnflag") === "A", 1L).otherwise(0L).as("treated"),
          col("l_quantity").cast("long").as("y"))
        graft.operators.NnMatch.nearest1d(o, "x", "treated", "k", "y")
          .groupBy().agg(count(lit(1)).as("n"), sum("dist").as("sd"))
      },

      // one Luby MIS round over the spatial graph: the per-round cost is
      // the scale claim (round COUNT is O(log n) by the geometric die-off
      // q382's census shows) — edge-keyed min-priority exchange + two
      // anti-joins, all hash-partitioned on vertex id
      "luby_round" -> { m =>
        import graft.functions.Hashes
        val verts = (0 until m).map { k =>
          Tables.customer(spark, sfDir)
            .select((col("c_custkey") + lit(k.toLong * 10_000_000L)).as("id"))
        }.reduce(_ unionAll _)
          .withColumn("prio",
            Hashes.mulHash(col("id") % 10_000_000L, 91) * 10_000_000L
              + col("id"))
        val edges = spatialEdges(m)
          .select(col("u").as("src"), col("v").as("dst"))
        graft.operators.Mis.lubyRounds(edges, verts, 1)
          .groupBy().agg(count(lit(1)).as("n"),
            sum(when(col("selected"), 1L).otherwise(0L)).as("n_mis"))
      })

    // the steepest 10× shapes get a 30× leg: confirms no super-linear break
    // past 10× — the 10→30 exponent is measured on the segment where fixed
    // job overhead has already amortized, so it is the honest asymptote
    val deep = Set("shingle_join", "pq_adc", "triangle_wedge", "prefix_sum")

    // warm-up
    mat(li(1).select(col("l_orderkey")))
    println(f"${"shape"}%-18s ${"t(1x)"}%8s ${"t(10x)"}%8s ${"exp"}%5s ${"t(30x)"}%8s exp10_30")
    shapes.filter(s => only.forall(_.contains(s._1))).foreach { case (name, mk) =>
      val t1 = math.min(time(mk(1)), time(mk(1)))
      val t10 = math.min(time(mk(10)), time(mk(10)))
      val exp = math.log(t10 / t1) / math.log(10.0)
      if (deep(name)) {
        val t30 = math.min(time(mk(30)), time(mk(30)))
        val exp30 = math.log(t30 / t10) / math.log(3.0)
        println(f"$name%-18s $t1%8.2f $t10%8.2f ${exp}%5.2f $t30%8.2f ${exp30}%.2f")
      } else
        println(f"$name%-18s $t1%8.2f $t10%8.2f ${exp}%5.2f")
      spark.catalog.clearCache() // checkpoint/persist residue must not leak
                                 // into the next shape's timings
    }
    spark.stop()
  }
}
