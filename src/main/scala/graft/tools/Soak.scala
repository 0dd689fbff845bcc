package graft.tools

import graft.{GraftSession, Tables}
import graft.operators.{Dedup, Multimodal, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale soak: times the heaviest operator families at 1× and 10× the
  * sf0.1 corpus (the 10× frame is the same documents unioned with
  * disjoint remapped ids — no new fixture data, just more of it) and
  * prints the scaling factor per operator. A keyed-shuffle operator
  * should scale ~linearly in rows (factor ≈ 10 ± constant overhead);
  * anything super-linear here is an all-pairs cliff the plan audit
  * missed. This is the empirical check behind SCALE.md's "would this
  * hold at 1000×" claims — run it after touching any dedup/similarity
  * candidate-generation path.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *          sbt "runMain graft.tools.Soak"
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = 10
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, "graft-soak")
    spark.sparkContext.setLogLevel("WARN")

    val docs1 = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).cache()
    val n1 = docs1.count()
    // copy offset derived from the fixture's actual max id: a fixed
    // 10M stride would silently collide (deflating the scaled row
    // count) if a fixture ever carried larger doc_ids
    val stride = docs1.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val docsN = (0 until copies).map { i =>
      docs1.select((col("doc_id") + lit(i.toLong * stride)).as("doc_id"),
        col("text"))
    }.reduce(_ unionAll _).cache()
    val nN = docsN.count()
    println(s"[soak] corpus 1x=$n1 rows, ${copies}x=$nN rows")

    def time[A](what: String)(f: => A): Double = {
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[soak] $what%-28s ${s}%7.2f s")
      s
    }

    // the one gate every leg ends in: time the small and the grown run
    // (min of `reps` each), print the growth factor, and fail the soak
    // (exit 1) when it exceeds `bound`
    def gate(name: String, growth: String, bound: Double, reps: Int = 1)(
        small: => Any, grown: => Any): Unit = {
      val t1 = (1 to reps).map(_ => time(s"$name small")(small)).min
      val tN = (1 to reps).map(_ => time(s"$name $growth")(grown)).min
      val r = tN / t1
      println(f"[soak] $name%-28s ${r}%5.1fx for $growth (${t1}%.2f s -> ${tN}%.2f s)")
      if (r > bound) {
        System.err.println(f"[soak] FAIL $name: ${r}%.1fx for $growth exceeds ${bound}%.1fx")
        spark.stop(); sys.exit(1)
      }
    }

    // each op is forced with a cheap count; candidate-generation cost
    // dominates every one of these
    def ops(docs: DataFrame): Seq[(String, () => Long)] = {
      lazy val toks = TextStats.tokenized(docs, "doc_id", "text")
      Seq(
        "chunk_dedup" -> (() => Dedup.chunkDedupFromTokens(toks, 5).count()),
        "minhash_lsh_dedup" -> (() =>
          Dedup.minhashDedup(docs, "doc_id", "text").count()),
        "simhash_neardups" -> (() =>
          Dedup.simhashNearDups(docs, "doc_id", "text", 3).count()),
        "boilerplate_strip" -> (() =>
          Dedup.boilerplateStripFromTokens(toks, 5, 3).count()),
        "image_dhash" -> (() => {
          import spark.implicits._
          val blobs = docs.select(col("doc_id")).as[Long]
            .mapPartitions(_.map { id =>
              val seed = id % 50
              (id, Multimodal.encodePng(
                (9 + seed % 23).toInt, (8 + (seed * 7) % 24).toInt, seed))
            }).toDF("doc_id", "blob")
          Multimodal.decodeImageHashPartitions(blobs, "blob", "doc_id").count()
        }))
    }

    // 3x headroom over row growth before we call it super-linear: the
    // duplicated corpus makes every chunk/shingle a heavy hitter, the
    // worst case for candidate generation
    ops(docs1).zip(ops(docsN)).foreach { case ((name, f1), (_, fN)) =>
      gate(name, s"${copies}x rows", copies * 3.0)(f1(), fN())
    }

    // --- leg: persistent dedup store — per-batch cost vs store size ---
    // the store grows 10×; the micro-batch stays fixed. With the
    // bucketed layout the batch reads only its own fingerprint buckets
    // and broadcasts itself into the slice, so per-batch time must stay
    // ~flat (NOT grow 10× with the history).
    {
      import graft.streaming.Pipelines
      val buckets = 1024
      def mkStore(nRows: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("soak_store").toString
        val seed = spark.range(nRows.toLong)
          .select(col("id").as("doc_id"),
            concat(lit("seed corpus document number "), col("id"),
              lit(" with its own unique body")).as("text"))
        Pipelines.dedupAgainstStore("text", dir, buckets) { _ => () }(seed, 0L)
        dir
      }
      val batch = spark.range(64).select(
        (col("id") + 5_000_000L).as("doc_id"),
        concat(lit("probe batch doc "), col("id")).as("text")).cache()
      batch.count()
      def runBatch(store: String): Long =
        Pipelines.dedupFresh(batch, "text", store).count()
      val small = mkStore(20_000); val big = mkStore(200_000)
      runBatch(small) // warm (codegen, parquet footers)
      gate("store_dedup_batch", "10x store growth", 3.0)(
        runBatch(small), runBatch(big))
    }

    // --- leg: CDC chunk store — per-batch cost vs store size ---
    // same contract as the fingerprint store: the batch derives its
    // chunk buckets driver-side and partition-prunes the read, so a
    // 10× deeper ingestion history must not show up in per-batch time.
    {
      import graft.streaming.Pipelines
      val buckets = 1024
      def mkStore(nRows: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("soak_cdc").toString
        val seed = spark.range(nRows.toLong)
          .select(col("id").as("doc_id"),
            concat(lit("seed corpus document number "), col("id"),
              lit(" body text that spans a few content defined chunk"),
              lit(" boundaries at the default mask")).as("text"))
        Pipelines.cdcDedupAgainstStore("doc_id", "text", dir,
          buckets = buckets) { _ => () }(seed, 0L)
        dir
      }
      val batch = spark.range(16).select(
        (col("id") + 5_000_000L).as("doc_id"),
        concat(lit("probe batch document "), col("id"),
          lit(" with novel wording throughout")).as("text")).cache()
      batch.count()
      def runBatch(store: String): Long = {
        val (chunks, pbs) = Pipelines.DedupStore.census(store,
          Pipelines.cdcHashed(batch, "doc_id", "text", 8, 64), col("ch"))
        val known = Pipelines.cdcKnown(chunks, pbs, store)
        Pipelines.cdcFresh(batch, chunks, known, "doc_id", 0.5).count()
      }
      val small = mkStore(20_000); val big = mkStore(200_000)
      runBatch(small) // warm
      gate("cdc_store_batch", "10x store growth", 3.0)(
        runBatch(small), runBatch(big))
    }

    // --- leg: SCD2 change store — per-batch cost vs dimension size ---
    // a fixed 64-key update batch against a 20k- then 200k-key change
    // store: the current-state read is pruned to the batch's key
    // buckets, so per-batch time must stay ~flat as the dimension
    // grows 10×. The timed run is an exact REPLAY of the update batch
    // (absorbed — appends nothing), which isolates the read path that
    // must not scale with history.
    {
      import graft.streaming.Pipelines
      val buckets = 1024
      def mkStore(nRows: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("soak_scd2").toString
        val seed = spark.range(nRows.toLong).select(col("id").as("k"),
          to_timestamp(lit("2020-01-01")).as("snap_ts"),
          concat(lit("seg"), (col("id") % 7).cast("string")).as("seg"))
        Pipelines.scd2IngestStream("k", "snap_ts", Seq("seg"), dir,
          buckets)()(seed, 0L)
        dir
      }
      val batch = spark.range(64).select(col("id").as("k"),
        to_timestamp(lit("2020-02-01")).as("snap_ts"),
        lit("segX").as("seg")).cache()
      batch.count()
      def runBatch(dir: String): Unit =
        Pipelines.scd2IngestStream("k", "snap_ts", Seq("seg"), dir,
          buckets)()(batch, 1L)
      val small = mkStore(20_000); val big = mkStore(200_000)
      runBatch(small); runBatch(big) // apply the update once each (warm)
      gate("scd2_store_batch", "10x dimension growth", 3.0)(
        runBatch(small), runBatch(big))
    }

    // --- leg: PIT enrichment — per-batch enrich cost vs dim HISTORY ---
    // a fixed 64-key fact batch enriched against a 20k-key change store
    // holding 1 vs 10 generations of changes (history 10×, key count
    // FIXED — isolating exactly the axis the enrich-side read must not
    // pay for): the read prunes to the batch's key buckets and
    // semi-joins the fact keys, so per-batch enrich time must stay
    // ~flat as the dimension's history grows. min-of-2 per store to
    // keep the tight gate off scheduler jitter.
    {
      import graft.streaming.Pipelines
      val buckets = 1024
      def mkStore(gens: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("soak_pit").toString
        val enr = Pipelines.PitEnricher(dir, Seq("seg"), buckets)
        (0 until gens).foreach { g =>
          val snap = spark.range(20_000L).select(col("id").as("k"),
            to_timestamp(lit(f"2020-${g + 1}%02d-01")).as("snap_ts"),
            concat(lit("seg"), ((col("id") + g) % 7).cast("string"))
              .as("seg"))
          enr.ingestDim(snap, g.toLong)
        }
        dir
      }
      val facts = spark.range(64L).select(col("id").as("ck"),
        to_timestamp(lit("2020-12-15")).as("ts"), lit(1.0).as("amt"))
        .cache()
      facts.count()
      def runEnrich(dir: String): Long =
        Pipelines.PitEnricher(dir, Seq("seg"), buckets)
          .enrich(facts, "ck", "ts").count()
      val small = mkStore(1); val big = mkStore(10)
      runEnrich(small); runEnrich(big) // warm
      gate("pit_enrich_batch", "10x dim-history growth", 1.5, reps = 2)(
        runEnrich(small), runEnrich(big))
    }

    // --- leg: hierarchy store — per-batch cost vs tree size ---
    // a fixed 64-event churn batch (32 value restatements + 32
    // reparents) against a 20k- vs 200k-node forest: reads prune to
    // the touched buckets and deltas walk ancestor chains only, so
    // per-batch time must track the batch, not the corpus. Chains in
    // the synthetic prefix forest are ≤7 deep at 200k nodes.
    {
      import graft.streaming.Pipelines
      val buckets = 1024
      def mkStore(nRows: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("soak_hier").toString
        val nodes = spark.range(nRows.toLong).select(col("id"),
          when(col("id") === 0L, lit(null).cast("long"))
            .otherwise(expr("id div 10")).as("parent"),
          (col("id") % 97).cast("long").as("value"))
        Pipelines.hierarchyIngestStream(dir, buckets)()(nodes, 0L)
        dir
      }
      val restate = spark.range(32L).select((col("id") * 7L + 3L).as("id"),
        expr("(id * 7 + 3) div 10").as("parent"),
        lit(500L).as("value"))
      val repar = spark.range(32L).select((col("id") * 11L + 350L).as("id"),
        expr("(id * 11 + 350) div 100").as("parent"),
        ((col("id") * 11L + 350L) % 97).cast("long").as("value"))
      val batch = restate.unionByName(repar).cache(); batch.count()
      def runBatch(dir: String, bid: Long): Unit =
        Pipelines.hierarchyIngestStream(dir, buckets)()(batch, bid)
      val small = mkStore(20_000); val big = mkStore(200_000)
      runBatch(small, 1L); runBatch(big, 1L) // apply once (warm)
      // the timed run is an exact REPLAY (absorbed: zero deltas) —
      // isolating the read/walk path that must not scale with corpus
      gate("hier_store_batch", "10x tree growth", 3.0)(
        runBatch(small, 1L), runBatch(big, 1L))
    }

    // --- leg: streaming weighted reservoir — per-batch cost vs history ---
    // the reservoir's state is ≤ k rows per stratum FOREVER, so a batch
    // against a reservoir that has absorbed 100× more history must cost
    // the same as against a young one (unlike the dedup stores, whose
    // state IS the history and needs bucketing to stay flat).
    {
      import graft.streaming.Pipelines
      val k = 64
      def mkReservoir(nRows: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("soak_res").toString
        val seed = spark.range(nRows.toLong).select(
          col("id").as("item_id"),
          (col("id") % 97 + 1).cast("double").as("w"),
          concat(lit("s"), (col("id") % 8).cast("string")).as("src"))
        Pipelines.weightedSampleAgainstStore("item_id", "w", "src",
          dir, k) { _ => () }(seed, 0L)
        dir
      }
      val batch = spark.range(256).select(
        (col("id") + 9_000_000L).as("item_id"),
        lit(2.5).as("w"),
        concat(lit("s"), (col("id") % 8).cast("string")).as("src")).cache()
      batch.count()
      def runBatch(dir: String): Unit =
        Pipelines.weightedSampleAgainstStore("item_id", "w", "src",
          dir, k) { _ => () }(batch, 1L)
      val young = mkReservoir(10_000); val old = mkReservoir(1_000_000)
      runBatch(mkReservoir(10_000)) // warm
      gate("reservoir_batch", "100x history", 3.0)(
        runBatch(young), runBatch(old))
    }

    // --- leg: mega-class exact-dup group emission stays linear ---
    // one identical-signature class of 10k then 100k members: the
    // group-emission report must scale ~linearly in rows (the PAIR
    // form would be 5·10⁷ → 5·10⁹ rows — quadratic in class size).
    {
      def sigs(classSize: Int) = spark.range(classSize.toLong + 5000L)
        .select(col("id"), when(col("id") < classSize,
            lit("1010101010101010101010101010101010101010101010101010101010101010"))
          .otherwise(concat(lit("0"),
            lpad(conv(col("id").cast("string"), 10, 2), 63, "0"))).as("simhash64"))
      def run(classSize: Int): Long =
        graft.operators.Dedup.hammingDupGroups(sigs(classSize)).count()
      run(10_000) // warm
      // 10x rows × 3x headroom, same gate as the operator legs
      gate("mega_class_groups", "10x class size", 30.0)(
        run(10_000), run(100_000))
    }

    // --- leg: streaming cluster store — per-batch cost vs history ---
    // a fixed 64-pair batch against a 20k- then 200k-member cluster
    // store: the member read partition-prunes to the batch's id
    // buckets and the CC runs on batch-sized supernode edges, so
    // per-batch time must stay ~flat as the clustered history grows
    // 10× (the q303 operator's scale contract). driverCcMaxEdges = 0
    // forces the DISTRIBUTED edge-rewiring CC — the 100 TB path is
    // the one this leg must prove flat; the driver union-find below
    // the cutoff is the small-batch latency optimization, not the
    // scale contract.
    {
      import graft.streaming.Pipelines
      def mkStore(nPairs: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory("soak_clst").toString
        val seed = spark.range(nPairs.toLong)
          .select((col("id") * 2).as("id_a"), (col("id") * 2 + 1).as("id_b"))
        Pipelines.clusterIngestStream(dir, driverCcMaxEdges = 0)()(seed, 0L)
        dir
      }
      val batch = spark.range(64)
        .select((col("id") * 2 + 9_000_000L).as("id_a"),
          (col("id") * 2 + 9_000_001L).as("id_b")).cache()
      batch.count()
      def runBatch(dir: String): Unit =
        Pipelines.clusterIngestStream(dir, driverCcMaxEdges = 0)()(batch, 1L)
      val small = mkStore(10_000); val big = mkStore(100_000)
      runBatch(mkStore(10_000)) // warm
      gate("cluster_store_batch", "10x member growth", 3.0)(
        runBatch(small), runBatch(big))
    }

    // --- leg: graph iteration family at 10× edges ---
    // the one operator family with ROUND structure: wall must track
    // edge count (~linear, 3× headroom), and round counts must stay
    // shape-bound, not size-bound. CC runs on a pure CHAIN — the
    // adversarial diameter shape where label propagation needed
    // diameter-many rounds; the edge-rewiring loop must converge
    // within a FIXED 16-round cap at both sizes (the require inside
    // dupClusters IS the round gate — a size-dependent round count
    // fails loud here, not at 100×). BFS/k-core/HITS run on a
    // ring-with-chords (bounded degree, diameter ≫ hop cap) so their
    // round counts are cap/fixed-iteration-bound by construction.
    {
      import graft.operators.{Dedup, GraphOps}
      def chain(n: Long): DataFrame =
        spark.range(n).select(col("id").as("id_a"),
          (col("id") + 1L).as("id_b"))
      def ring(n: Long): DataFrame =
        spark.range(n).select(col("id").as("id_a"),
          ((col("id") + 1L) % n).as("id_b"))
          .unionAll(spark.range(n).select(col("id").as("id_a"),
            ((col("id") + 7L) % n).as("id_b")))
      def ccRun(n: Long): Unit = {
        val docs = spark.range(n + 1).select(col("id").as("doc_id"))
        // driverMaxEdges = 0: the soak leg gates the DISTRIBUTED
        // rewiring round count — the driver union-find shortcut would
        // absorb the 20k chain and make the gate vacuous
        val wrong = Dedup.dupClusters(docs, "doc_id", chain(n),
          maxIters = 16, driverMaxEdges = 0)
          .where(col("cluster_rep") =!= 0L).count()
        require(wrong == 0L, s"cc_chain merged wrong: $wrong")
      }
      ccRun(2000) // warm
      gate("cc_chain", "10x edges", 30.0)(ccRun(2000), ccRun(20000))
      def bfsRun(n: Long): Long = {
        GraphOps.bfsHops(ring(n),
          spark.range(1).select(col("id")), maxHops = 8).count()
      }
      bfsRun(30_000) // warm
      gate("bfs_ring", "10x edges", 30.0)(bfsRun(30_000), bfsRun(300_000))
      def hitsRun(n: Long): Long = {
        GraphOps.hits(ring(n).select(col("id_a").as("src"),
          col("id_b").as("dst")), iters = 3).count()
      }
      hitsRun(30_000) // warm
      gate("hits_ring", "10x edges", 30.0)(hitsRun(30_000), hitsRun(300_000))
      def kcoreRun(n: Long): Long = {
        // ring+chords is 4-regular → the 3-core is everything and the
        // 5-core empty; peel at k=5 so rounds exercise full peeling
        GraphOps.kCore(ring(n), k = 5).count()
      }
      kcoreRun(30_000) // warm
      gate("kcore_ring", "10x edges", 30.0)(kcoreRun(30_000), kcoreRun(300_000))
      // label propagation + its modularity census, driverMaxEdges = 0:
      // the DISTRIBUTED rounds and census are the scale contract — the
      // driver path would absorb the 30k ring and make the gate vacuous
      def lpaModRun(n: Long): Long = {
        val r = ring(n)
        val edges = r.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionAll(r.select(col("id_b").as("src"), col("id_a").as("dst")))
        val labels = GraphOps.labelPropagation(spark.range(n).select(col("id")),
          edges, iters = 3, driverMaxEdges = 0)
        GraphOps.modularity(labels, edges, driverMaxEdges = 0).count()
      }
      lpaModRun(30_000) // warm
      gate("lpa_modularity_ring", "10x edges", 30.0)(
        lpaModRun(30_000), lpaModRun(300_000))
      // hub-heavy link prediction: an n-leaf star riding a small ring —
      // without the maxDegree cap the hub alone generates O(n²) wedges
      // (the boilerplate-hub cliff); with the cap the hub drops from
      // the center role and wall must track the degree census, not n²
      def cncRun(n: Long): Long = {
        val star = spark.range(n).select(lit(0L).as("id_a"),
          (col("id") + 1L).as("id_b"))
        GraphOps.commonNeighborCandidates(star.unionAll(ring(1000)),
          minCommon = 2L, maxDegree = Some(1000L)).count()
      }
      cncRun(30_000) // warm
      gate("cnc_hub", "10x edges", 30.0)(cncRun(30_000), cncRun(300_000))
    }

    println("[soak] OK: no super-linear operator")
    spark.stop()
  }
}
