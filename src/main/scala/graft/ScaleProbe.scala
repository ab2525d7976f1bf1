package graft

import graft.operators._
import graft.sources.Fasta
import org.apache.spark.sql.functions._

/** Scale probe: generates a synthetic corpus ~100× the sf0.1 testdata and
  * measures the engine's heavy operators end-to-end on local[32]. The
  * point is to catch super-linear behavior (quadratic expression eval,
  * bucket blowup, driver funnels) at a size where it shows, and to record
  * single-node throughput numbers that extrapolate to cluster scale.
  *
  * Run: `sbt "runMain graft.ScaleProbe [nSeqs] [nDocs]"`. Prints one
  * JSON line per stage: {"stage":..., "rows":..., "sec":...}.
  */
object ScaleProbe {

  def main(args: Array[String]): Unit = {
    val nSeqs = args.headOption.map(_.toInt).getOrElse(200000)
    val nDocs = args.lift(1).map(_.toInt).getOrElse(100000)
    val spark = GraftSession.local("graft-scale-probe")
    import spark.implicits._

    def timed[T](stage: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val rows = f
      println(f"""{"stage":"$stage","rows":$rows,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
    }

    // ---- synthetic aligned corpus: one reference, nSeqs mutated rows ----
    val AAs = "ACDEFGHIKLMNPQRSTVWY"
    val ref = {
      val r = new scala.util.Random(11)
      Seq.fill(1273)(AAs(r.nextInt(20))).mkString // Spike-sized protein
    }
    val fastaDir = "/tmp/graft_scale_fasta"
    timed("gen_fasta_write") {
      val refB = spark.sparkContext.broadcast(ref)
      val df = spark.range(nSeqs).map { i =>
        val r = new scala.util.Random(i)
        val sb = new StringBuilder(refB.value)
        // ~5 substitutions per row, occasional deletion run
        for (_ <- 0 until 5) sb.setCharAt(r.nextInt(sb.length), AAs(r.nextInt(20)))
        if (i % 7 == 0) { val p = 1 + r.nextInt(sb.length - 5)
          for (j <- p until p + 3) sb.setCharAt(j, '-') }
        (s"Uniq$i;size=${1 + (i % 9)};", sb.toString)
      }.toDF("header", "seq")
      Fasta.write(df, fastaDir)
      nSeqs.toLong
    }

    timed("fasta_scan_dsv2") {
      spark.read.format("fasta").load(s"$fastaDir/*.txt").count()
    }

    val aligned = Fasta.withClusterFields(
      spark.read.format("fasta").load(s"$fastaDir/*.txt"))
      .select(col("cluster_id").as("clusterId"),
        col("cluster_size").as("clusterSize"), col("seq"))
      .as[AlignedSeq]

    timed("variant_caller_flatmap") {
      VariantCalling.callAll(aligned, ref).count()
    }

    timed("exact_dedup_hashed") {
      Dedup.exactClusters(aligned.toDF(), col("clusterId"), col("seq")).count()
    }

    // ---- domain headline path (the original mission's spine, SURVEY
    // §3.1–3.2): FASTA scan → flatMap variant caller → cache → the five
    // MSA_Reader report products, then the ONE-SHUFFLE weekly matrix
    // over a synthetic metadata join. Reference complexity for the same
    // products: O(ref_len × events) Python loops per report
    // (MSA_Reader.py) and O(weeks × continents × rows) for the series
    // (Time_Series.py); here each report is one exchange over the
    // cached events and the matrix is one Expand-style shuffle. ----
    val events = VariantCalling.callAll(aligned, ref).cache()
    timed("domain_call_and_cache") { events.count() }
    val totalSeqs = aligned.agg(sum(col("clusterSize"))).head().getLong(0)
    timed("domain_report_info_by_cluster") {
      Reports.infoByCluster(events).count()
    }
    timed("domain_report_info_by_code") {
      Reports.infoByCode(events, None).count()
    }
    timed("domain_report_mutation_csv") {
      Reports.mutationCsv(events, totalSeqs).count()
    }
    val perPos = Reports.perPositionTable(events, ref, totalSeqs)
    timed("domain_report_per_position") { perPos.count() }
    timed("domain_report_pymol") { Reports.pymolStrings(perPos).count() }
    val perCluster =
      VariantTimeSeries.variantsPerCluster(events, "RefCluster", 1)
    timed("domain_variants_per_cluster") { perCluster.count() }
    // synthetic metadata: 2 accessions per cluster, 52 weeks × 6 regions
    val regions = Seq("Asia", "Europe", "Africa", "Oceania",
      "North America", "South America")
    val meta = spark.range(nSeqs * 2L).select(
      concat(lit("acc"), col("id")).as("accession"),
      date_format(date_add(lit("2021-01-03").cast("date"),
        pmod(col("id") * 37L, lit(364)).cast("int")), "yyyy-MM-dd")
        .as("date"),
      element_at(typedLit(regions), (pmod(col("id"), lit(6)) + 1).cast("int"))
        .as("region"))
    val clusterMap = spark.range(nSeqs * 2L).select(
      concat(lit("acc"), col("id")).as("accession"),
      concat(lit("Uniq"), pmod(col("id"), lit(nSeqs))).as("cluster_id"))
    timed("domain_weekly_matrix_one_shuffle") {
      VariantTimeSeries.weeklyMatrix(
        VariantTimeSeries.joinMetadata(meta, clusterMap, perCluster))
        .count()
    }
    events.unpersist()

    // ---- attribution / survival at event scale: 1M users × 6 touches
    // (6M rows). The point: both attribution operators are ONE
    // data-sized aggregation + constant-bounded tails, and the survival
    // pair thins to a distinct-time grid — none of them should scale
    // worse than the aggregate itself. ----
    val chansP = Seq("a", "b", "c", "d")
    val touchRows = spark.range(6000000L).select(
      (col("id") / 6L).cast("long").as("u"),
      pmod(col("id"), lit(6L)).cast("int").as("pos"),
      element_at(typedLit(chansP),
        (pmod(xxhash64(col("id")), lit(4L)) + 1L).cast("int")).as("ch"))
      .withColumn("cv", pmod(col("u"), lit(3L)) === 0L)
      .cache()
    timed("attrib_events_materialize") { touchRows.count() }
    timed("shapley_1M_users_k4") {
      graft.operators.Attribution.shapley(touchRows, col("u"), col("ch"),
        col("cv"), chansP).count()
    }
    timed("markov_1M_users_k4_60it") {
      graft.operators.Attribution.markovRemoval(touchRows, col("u"),
        col("ch"), col("pos"), col("pos"), col("cv"), chansP).count()
    }
    val subjects = spark.range(1000000L).select(col("id").as("u"),
      pmod(col("id"), lit(300L)).cast("double").as("dur"),
      (pmod(col("id"), lit(5L)) > 0L).as("ev"),
      (pmod(col("id"), lit(2L)) === 0L).as("c1"),
      (pmod(col("id"), lit(4L))).cast("string").as("g"))
    timed("kaplan_meier_1M_subjects_300t") {
      graft.operators.Stats.kaplanMeier(subjects, Seq("g"), col("dur"),
        col("ev")).count()
    }
    timed("log_rank_1M_subjects_300t") {
      graft.operators.Stats.logRank(subjects, Seq("g"), col("dur"),
        col("ev"), col("c1")).count()
    }
    // Cox PH: 8 Newton iterations × (one cell aggregation + one
    // ≤300-element in-row fold per stratum) — the claim under test is
    // that each iteration is ONE data-sized pass, subjects never
    // collect, and the driver holds only p²-per-stratum state
    val coxSubjects = subjects
      .withColumn("x1", (pmod(floor(col("u") / lit(4L)), lit(2L)) === 0L)
        .cast("int").cast("double"))
      .withColumn("x2", (pmod(col("u"), lit(7L)).cast("double") -
        lit(3.0)) / lit(3.0))
    timed("cox_ph_1M_subjects_300t_p2_8it") {
      graft.operators.Cox.coxPh(coxSubjects, Seq("g"), col("dur"),
        col("ev"), Seq("x1" -> col("x1"), "x2" -> col("x2"))).count()
    }
    touchRows.unpersist()

    // ---- synthetic text corpus; every 10th doc also appears as a
    // near-duplicate copy (one appended token) under id + nDocs ----
    val docs = spark.range(nDocs).flatMap { i =>
      val id = i.toLong
      val r = new scala.util.Random(id)
      val words = Seq.fill(120)(s"w${r.nextInt(5000)}").mkString(" ")
      if (id % 10 == 0) Seq((id, words), (id + nDocs, words + " tail"))
      else Seq((id, words))
    }.toDF("doc_id", "text").cache()
    timed("docs_materialize") { docs.count() }

    timed("minhash_signatures") {
      Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 24).count()
    }
    timed("minhash_candidates") {
      Dedup.minhashCandidates(docs, col("doc_id"), col("text")).count()
    }
    timed("simhash_signatures") {
      Dedup.simhashSignatures(docs, col("doc_id"), col("text")).count()
    }
    timed("dedup_corpus_full") {
      Dedup.dedupCorpus(docs, col("doc_id"), col("text"), minJaccard = 0.5).count()
    }
    timed("dup_windows_16tok") { // ~11M exploded windows, 16-byte digests
      TextAnalysis.duplicateWindows(docs, col("doc_id"), col("text"), k = 16).count()
    }
    timed("duplicate_spans_w5") { // frequency pass + islands window: the
      // twins make every shingle of a twinned doc corpus-duplicated, so
      // the islands merge ~116 hits/doc into ONE maximal span each —
      // output rows ≈ 2 × twinned docs, however large the corpus
      Dedup.duplicateSpans(docs, col("doc_id"), col("text"),
        w = 5, minShingles = 3).count()
    }
    timed("curate_end_to_end") { // gate → dedup → chunk → split → parquet
      LlmPipeline.curate(docs, col("doc_id"), col("text"),
        "/tmp/graft_scale_curated", maxTokens = 64, overlap = 8,
        minQuality = 0.2, minJaccard = 0.5).count()
    }
    timed("minhash_portable_family") { // md5 double-hashing vs xxhash64
      Dedup.minhashSignatures(docs, col("doc_id"), col("text"), 3, 24,
        Dedup.Md5Minhash).count()
    }
    timed("decontaminate_1k_bench") { // corpus vs 1k-doc broadcast eval set
      Curation.contaminationHits(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") % 100 === 0 && col("doc_id") < nDocs),
        col("text"), k = 13).count()
    }
    timed("mixture_sample_filter") { // pure scan filter, no shuffle
      Curation.mixtureSample(docs, col("doc_id"),
        (col("doc_id") % 4).cast("string"),
        rates = Map("0" -> 0.5, "1" -> 0.25), defaultRate = 0.9).count()
    }
    timed("seq_packing_64part") { // per-partition greedy, 64 slices
      Curation.packSequences(
        docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n")),
        col("doc_id"), col("n"), budget = 2048, numPartitions = 64).count()
    }
    timed("bloom_prune_join_side") { // 2^20-bit bloom over 1k keys
      Bloom.prune(docs, col("doc_id"),
        docs.filter(col("doc_id") % 100 === 0).select("doc_id"),
        col("doc_id")).count()
    }

    timed("frequent_items_bigrams") { // zero-shuffle MG candidates over
      // ~13M exploded bigrams (5k-word vocab → constant decrement churn,
      // the MG worst case), then ONE exact verify count of the broadcast
      // candidate union — the key universe never shuffles
      Sketches.frequentItems(
        docs.select(explode(TextAnalysis.bigrams(
          TextAnalysis.wsTokens(col("text")))).as("k")),
        col("k"), minShare = 0.0001).count()
    }
    timed("heavy_hitters_jvm_bigrams") { // r16: the registered
      // t_heavy_hitters path — bigrams as a narrow JVM mapPartitions
      // (identical multiset to the HOF stage above, ~3× cheaper per
      // pass; frequentItems re-executes the stream for its verify pass)
      val bg = docs.select(col("text")).as[String].mapPartitions { it =>
        it.flatMap { t =>
          if (t == null) Iterator.empty
          else {
            val toks = t.split("\\s+").iterator.filter(_.nonEmpty).toArray
            if (toks.length < 2) Iterator.empty
            else (0 until toks.length - 1).iterator.map(i =>
              toks(i) + " " + toks(i + 1))
          }
        }
      }.toDF("k")
      Sketches.frequentItems(bg, col("k"), minShare = 0.0001).count()
    }
    timed("bpe_encode_sortfirst") { // r16: the registered t_bpe_encode
      // shape — global sort of the bare (id, text) scan FIRST, the
      // 10-pass replace-chain encode projected above the Sort so the
      // range-exchange sampling job never re-runs it; toRdd.count()
      // materializes every column (a bare count() would prune the
      // encode away)
      val merges = Seq("t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n",
        "e" -> "r", "o" -> "n", "an" -> "d", "o" -> "r")
      docs.select(col("doc_id"), col("text"))
        .orderBy("doc_id")
        .withColumn("enc", graft.operators.Bpe.applyMergesColumn(
          regexp_replace(col("text"), "\\s+", " "), merges))
        .select(col("doc_id"),
          graft.operators.Bpe.bpeTokenCountFromEncoded(col("enc"))
            .as("n_bpe_tokens"),
          md5(col("enc").cast("binary")).as("enc_md5"))
        .queryExecution.toRdd.count()
    }
    timed("weighted_sample_50_per_stratum") { // one partitioned window;
      // priority is a pure scan-level column of (id, weight)
      Curation.weightedPrioritySample(
        docs.withColumn("w", length(col("text")).cast("double")),
        col("doc_id"), (col("doc_id") % 16).cast("string"), col("w"),
        n = 50).count()
    }
    timed("pmi_bigram_lift") { // two exploded aggs + two token-keyed
      // joins; products stay exact in doubles
      val toks = docs.select(TextAnalysis.wsTokens(col("text")).as("toks"))
      val uni = toks.select(explode(col("toks")).as("x"))
        .groupBy("x").agg(count(lit(1)).as("n_x"))
      toks.select(explode(TextAnalysis.bigrams(col("toks"))).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
        .withColumn("x", split(col("bigram"), " ").getItem(0))
        .withColumn("y", split(col("bigram"), " ").getItem(1))
        .join(uni, Seq("x"))
        .join(uni.select(col("x").as("y"), col("n_x").as("n_y")), Seq("y"))
        .filter(col("n_xy") >= 25).count()
    }

    timed("jaccard_prefix_join_zipf") { // prefix filtering lives on df
      // skew: a Zipf-ish vocab (density ∝ u·u toward 0) gives every doc
      // genuinely rare tokens, so prefix postings stay short exactly
      // where the self-join fans out. Every 10th doc gets a one-token
      // perturbed twin — the pairs the join must find.
      val zdocs = spark.range(nDocs / 2).flatMap { i =>
        val id = i.toLong
        val r = new scala.util.Random(id)
        def tok() = { val u = r.nextDouble() * r.nextDouble()
          s"z${(5000 * u).toInt}" }
        val words = Seq.fill(60)(tok()).mkString(" ")
        if (id % 10 == 0) Seq((id, words), (id + nDocs, words + " ztail"))
        else Seq((id, words))
      }.toDF("doc_id", "text")
      Dedup.jaccardJoinPrefix(zdocs, col("doc_id"), col("text"),
        minJaccard = 0.8).count()
    }
    timed("funnel_3step_10M_events") { // ONE exchange on user, 3 stacked
      // window-mins — no per-step self-joins of the event table
      val types = Seq("view", "click", "purchase", "error", "signup")
      val ev = spark.range(10000000L).select(
        (col("id") % 150000).as("user_id"),
        timestamp_micros(lit(1600000000000000L) + col("id") * 1000000L)
          .as("ts"),
        element_at(typedLit(types), (col("id") % 5 + 1).cast("int"))
          .as("event_type"))
      Sessions.funnelSummary(ev, col("user_id"), col("ts"),
        col("event_type"), Seq("view", "click", "purchase")).count()
    }

    var bpeMerges: Seq[(String, String)] = Seq.empty
    timed("bpe_train_200_merges") { // ONE histogram pass + driver loop
      bpeMerges = Bpe.trainBpe(docs, col("text"), numMerges = 200,
        maxWords = 50000)
      bpeMerges.size.toLong
    }
    timed("bpe_tokenize_learned") { // narrow mapPartitions, broadcast ranks
      Bpe.tokenizeBpe(docs, col("doc_id"), col("text"), bpeMerges).count()
    }

    timed("cc_path_graph_1M_hops") { // adversarial diameter for components:
      // a 1M-hop chain needs ~1M rounds under label propagation; the
      // large-star/small-star contraction closes it in O(log n) rounds
      val chain = spark.range(1000000)
        .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
      Dedup.connectedComponents(chain, maxIter = 60).count()
    }

    timed("boilerplate_line_scrub") { // line-df count + broadcast anti-join
      // + in-order reassembly over multi-line docs (10-token lines), a
      // shared banner injected into every 3rd doc
      val lined = docs.select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0, lit("SHARED COOKIE BANNER\n")).otherwise(lit("")),
          regexp_replace(col("text"), "((?:\\S+ ){9}\\S+) ", "$1\n")).as("text"))
      Curation.removeBoilerplateLines(lined, col("doc_id"), col("text"),
        minDf = 1000).count()
    }
    timed("inverted_index_full") { // one explode + one agg into postings
      Search.invertedIndex(docs, col("doc_id"), col("text")).count()
    }
    timed("bm25_16_queries") { // scoring cost ∝ matched postings
      Search.bm25TopK(docs, col("doc_id"), col("text"),
        queries = (0L until 16L).map(q =>
          q -> Seq(s"w${q * 17 % 5000}", s"w${(q * 31 + 7) % 5000}")),
        k = 10).count()
    }

    val vecs = spark.range(nDocs).map { i =>
      val r = new scala.util.Random(i)
      (i, Seq.fill(64)(r.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding").cache()
    timed("vectors_materialize") { vecs.count() }
    val queries = vecs.filter(col("vec_id") < 16)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    timed("ann_bruteforce_16q") {
      Similarity.bruteForceTopK(vecs, queries, 10).count()
    }
    timed("ann_lsh_16q") {
      Similarity.lshTopK(vecs, queries, 10, numBits = 10).count()
    }
    var semCentroids: Seq[Seq[Double]] = Seq.empty
    timed("semdedup_kmeans_k64") { // 3 Lloyd's rounds, centroids on driver
      semCentroids = Similarity.trainCentroids(vecs, k = 64, iters = 3)
      semCentroids.size.toLong
    }
    timed("semdedup_pairs_k64") { // within-cluster all-pairs only: one
      // equi-shuffle on the cluster id; ~(n/64)² cosines per cluster vs
      // n² globally — the published SemDeDup cost model
      Similarity.semanticDedupPairs(vecs, semCentroids, minCosine = 0.75,
        maxClusterRows = nDocs.toLong).count()
    }

    // ---- round-9 additions: SemDeDup auto-split, state compaction ----

    timed("semdedup_autosplit_skewed") { // recursive sub-k-means on an
      // adversarially skewed corpus: ~95% of vectors in one tight blob,
      // so flat k=2 assignment funnels them into one cluster; the
      // auto-split re-clusters until every final cluster is bounded
      val bound = math.max(1000L, nDocs / 16L)
      val skew = spark.range(nDocs.toLong).map { i =>
        val r = new scala.util.Random(i)
        val c = if (i % 20 == 0) -5.0 else 5.0
        (i, Seq.fill(16)((c + r.nextGaussian()).toFloat))
      }.toDF("vec_id", "embedding")
      val cents = Similarity.trainCentroids(skew, k = 2, iters = 1)
      val assigned = Similarity.semanticAssign(skew, cents,
        maxClusterRows = bound, maxSplitDepth = 4)
      val maxSz = assigned.groupBy("cluster").count()
        .agg(max("count")).head.getLong(0)
      require(maxSz <= bound, s"auto-split left a cluster of $maxSz rows")
      assigned.count()
    }

    timed("state_compaction_2x_dups") { // one window-min exchange on the
      // signature of a dedup state whose rows are duplicated 2× —
      // collapses back to nDocs rows, decisions provably unchanged
      val dup = docs.select(col("doc_id"), col("text"))
        .unionByName(docs.select((col("doc_id") + nDocs).as("doc_id"),
          col("text")))
      val st = Dedup.corpusState(dup, col("doc_id"), col("text"))
      Dedup.compactState(st).count()
    }

    // ---- round-9 additions: IVF-PQ, containment, TF-IDF cosine,
    // audio fingerprints ----

    var pqCb: Seq[Seq[Seq[Double]]] = Seq.empty
    var ivfPqEnc: org.apache.spark.sql.DataFrame = null
    timed("ivfpq_encode_full") { // coarse argmin + 8 subspace argmins per
      // row in one scan, zero shuffle; at rest each vector is 16 code
      // bytes + norm instead of 512 vector bytes
      pqCb = Similarity.trainPqCodebooks(vecs, dim = 64, m = 8, k = 16,
        iters = 0)
      ivfPqEnc = Similarity.pqEncode(
        Similarity.ivfIndex(vecs, semCentroids), pqCb).cache()
      ivfPqEnc.count()
    }
    timed("ivfpq_search_16q_nprobe4") { // candidates ≈ 4/64 of the codes
      // per query, each scored by 8 table lookups — full vectors are
      // never reopened (the FAISS IndexIVFPQ cost model)
      Similarity.ivfPqTopK(ivfPqEnc, queries, k = 10, semCentroids, pqCb,
        nProbe = 4).count()
    }

    // ---- round-10 additions: on-disk index probe pruning, JPEG decode ----

    val ivfIdxDir = "/tmp/graft_scale_ivfpq_index"
    timed("ivfpq_index_write_partitioned") { // one directory per inverted
      // list; the quantizers ride under _quantizers (skipped by readers)
      Similarity.writeIvfPqIndex(ivfPqEnc, semCentroids, pqCb, ivfIdxDir)
      nDocs.toLong
    }
    val ivfIdx = Similarity.readIvfPqIndex(spark, ivfIdxDir)
    val probedL = Similarity.probedLists(queries, ivfIdx.centroids, nProbe = 4)
    timed("ivfpq_ondisk_pruned_search_16q") { // probedLists → isin filter →
      // static partition pruning at the LISTING: only the probed lists'
      // directories are ever opened, per-query I/O ∝ nProbe/k of the index
      Similarity.ivfPqTopK(
        ivfIdx.data.filter(col("ivf_list").isin(probedL: _*)),
        queries, k = 10, ivfIdx.centroids, ivfIdx.codebooks,
        nProbe = 4).count()
    }
    locally { // measured pruning ratio: files under probed list dirs vs
      // all — for the 16-query BATCH (whose probed union approaches the
      // list universe as queries diversify) and for ONE query (the
      // serving-path number: nProbe/k of the directories)
      def dataFiles(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) Seq.empty
          else f.listFiles().toSeq.flatMap(dataFiles)
        } else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
      val all = dataFiles(new java.io.File(ivfIdxDir))
      def opened(lists: Seq[Int]): Int = {
        val dirs = lists.map(l => s"ivf_list=$l").toSet
        all.count(f => dirs.contains(f.getParentFile.getName))
      }
      val one = Similarity.probedLists(queries.limit(1), ivfIdx.centroids,
        nProbe = 4)
      println(s"""{"stage":"ivfpq_probe_pruning_files","rows":${opened(probedL).toLong},"sec":0.00,"total_files":${all.size},"one_query_files":${opened(one)},"batch_lists":${probedL.size},"one_query_lists":${one.size}}""")
    }

    val jpegs = spark.range(nDocs.toLong).map { i =>
      (i, Multimodal.encodeJpeg(24, 24, (x, y) => {
        val v = ((x * 31 + y * 17 + i * 7) % 256).toInt
        (v << 16) | (v << 8) | v
      }))
    }.toDF("id", "payload").cache()
    timed("jpeg_encode_materialize") { jpegs.count() }
    timed("jpeg_decode_dhash_full") { // ImageIO decode → 9×8 gray
      // downsample → 64-bit dHash per row, narrow mapPartitions: the
      // multimodal decode path at corpus scale (24×24 thumbs — the cost
      // is per-row decoder overhead, the thumbnail-pass regime)
      Multimodal.imageDHashes(jpegs, col("id"), col("payload")).count()
    }
    jpegs.unpersist()
    timed("containment_tail_twins") { // rare-shingle candidates + exact
      // posting-join tail; the corpus's tail-append twins sit at
      // containment ≈ 1 and must all surface
      Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        shingleK = 3, minContainment = 0.9, maxDf = 20).count()
    }
    timed("tfidf_cosine_16q") { // sparse dots: one posting join on term
      // summed per (query, doc) pair — cost tracks the 16 query docs'
      // postings, never corpus²
      Search.tfIdfCosineTopK(docs, col("doc_id"), col("text"),
        docs.filter(col("doc_id") < 16).select(col("doc_id").as("id")),
        k = 10).count()
    }
    timed("fuzzy_decontaminate_1k_bench") { // cross-corpus minhash: the
      // corpus pays the signature pipeline once; the 1k paraphrased
      // bench rows ride the same banded bucket join — no all-pairs
      val bench = docs.filter(col("doc_id") < 1000)
        .select(regexp_replace(col("text"), "w1", "shifted").as("text"))
      Curation.fuzzyContaminationHits(docs, col("doc_id"), col("text"),
        bench, col("text"), minJaccard = 0.5).count()
    }
    timed("audio_fingerprint_hashes") { // real RIFF encode → chunk walk →
      // 65-window envelope hash per row, narrow mapPartitions throughput
      val audio = spark.range(nDocs.toLong).map { i =>
        val samples = Array.tabulate(400)(j =>
          (((i * 37 + j * 73) % 4001) - 2000).toShort)
        (i, Multimodal.encodeWavPcm16(8000, samples))
      }.toDF("id", "payload")
      Multimodal.audioFingerprints(audio, col("id"), col("payload")).count()
    }

    // ---- round-8 additions: range join, WARC container, Z-order ----

    timed("range_join_2M_x_1k") { // optimizer-rewritten BroadcastRangeJoin:
      // 2M probes binary-search 1k broadcast intervals — the stock plan
      // is a BroadcastNestedLoopJoin doing 2e9 comparisons
      val probes = spark.range(2000000).select(
        col("id"), (col("id") * 2654435761L % 1000000L).as("v"))
      val ivals = spark.range(1000).select(
        concat(lit("band"), col("id")).as("name"),
        (col("id") * 1000L).as("lo"), (col("id") * 1000L + 999L).as("hi"))
      probes.join(ivals, col("v") >= col("lo") && col("v") <= col("hi")).count()
    }

    val warcDir = "/tmp/graft_scale_warc"
    timed("warc_write") { // DSv2 batch-write protocol, 32 tasks
      docs.select(
        concat(lit("<urn:doc:"), col("doc_id"), lit(">")).as("record_id"),
        encode(col("text"), "UTF-8").as("payload"))
        .write.format("warc").mode("overwrite").save(warcDir)
      nDocs.toLong
    }
    timed("warc_scan_full") { // split-parallel scan, payload materialized
      spark.read.format("warc").option("maxSplitBytes", (4L << 20).toString)
        .load(warcDir).select(sum(octet_length(col("payload")))).collect()
      nDocs.toLong
    }
    timed("warc_scan_meta_only") { // pruned scan SKIPS payload bytes
      spark.read.format("warc").option("maxSplitBytes", (4L << 20).toString)
        .load(warcDir).select(count(col("record_id"))).collect()
      nDocs.toLong
    }

    val zDir = "/tmp/graft_scale_zorder"
    timed("zorder_write_2M") { // min/max pass + range shuffle + sorted write
      val df = spark.range(2000000).select(
        (col("id") * 2654435761L % 100000L).as("a"),
        (col("id") * 40503L % 100000L).as("b"),
        col("id").as("payload"))
      graft.sinks.Clustered.writeZOrdered(df, zDir, Seq("a", "b"), nFiles = 64)
      2000000L
    }
    timed("zorder_pruned_scan") { // two-column band filter over 64 files
      spark.read.parquet(zDir)
        .filter(col("a") < 5000 && col("b") < 5000).count()
    }

    val compactDir = "/tmp/graft_scale_compact"
    timed("compact_fixture_512_files") { // the streaming-append pathology:
      // 2M rows accreted as 512 tiny files across 8 hive partitions
      spark.range(2000000).select(col("id"), (col("id") % 8).as("p"))
        .repartition(64).write.mode("overwrite")
        .partitionBy("p").parquet(compactDir)
      2000000L
    }
    timed("compact_selective_rewrite") { // listing-only plan, then rewrite
      // ONLY violating leaves (here: all 8), each to ceil(bytes/target)
      graft.sinks.Compaction.compact(spark, compactDir,
        targetBytes = 16L << 20).map(_.filesAfter.toLong).sum
    }
    timed("compact_noop_second_pass") { // already-compact table: plan says
      // nothing to do, zero data read or written
      graft.sinks.Compaction.compact(spark, compactDir,
        targetBytes = 16L << 20).size.toLong
    }

    // ---- round-9 additions: link graph, snapshot diff, agg-then-join ----

    // Pseudo-random host graph: 4M directed edges over 100k nodes
    // (xxhash64 endpoint mixing — polynomial fixtures mod N are secretly
    // 1-dimensional and triangle-free), PLUS a 50k-in-edge hub at the
    // max node id. The hub is the adversarial shape for triangle
    // counting; oriented (u<v) expansion gives the hub a FORWARD degree
    // of zero, so its 50k-edge adjacency never expands.
    val edges = spark.range(4000000).select(
        pmod(xxhash64(col("id")), lit(100000L)).as("src"),
        pmod(xxhash64(col("id") + 7000000L), lit(100000L)).as("dst"))
      .union(spark.range(50000).select(
        pmod(xxhash64(col("id") + 9000000L), lit(99999L)).as("src"),
        lit(99999L).as("dst")))
      .where(col("src") =!= col("dst")).cache()
    timed("graph_edges_materialize") { edges.count() }
    timed("pagerank_4M_edges_k4") { // 4 unrolled join+agg rounds, 16-byte
      // shuffle rows; integer arithmetic end to end
      Graph.pageRank(edges, iterations = 4).count()
    }
    timed("triangles_4M_edges") { // oriented two-join: expansion is
      // bounded by FORWARD degree, and the hub sits at the MAX node id,
      // so its forward degree is 0 and its 50k-edge adjacency never
      // expands (an id-0 hub would be the adversarial placement)
      Graph.triangleCount(edges).collect()(0).getLong(0)
    }
    timed("ppr_4M_edges_k4_3seeds") { // personalized teleport: identical
      // per-round plan to pagerank (the seed membership is a folded
      // 0/teleport column, not a per-round join) — the probe asserts
      // the personalization costs nothing extra per iteration
      Graph.personalizedPageRank(edges,
        spark.range(3).select(col("id").as("node")), iterations = 4).count()
    }
    timed("kcore_peel_4M_edges_k40_r4") { // 4 peel rounds at k=40 (avg
      // undirected degree ~80 here): each round one degree aggregate +
      // two semi joins over the SURVIVING 16-byte edge set — cost per
      // round shrinks as the periphery peels
      Graph.kcorePeel(edges, k = 40, rounds = 4).count()
    }
    timed("bfs_layers_4M_edges_d3") { // 3 frontier rounds from 3 seeds
      // on a ~100k-node near-expander: the frontier saturates by hop 2,
      // so the probe exercises the worst (densest) frontier join shape
      Graph.bfsLayers(edges,
        spark.range(3).select(col("id").as("node")), maxDepth = 3).count()
    }
    edges.unpersist()

    // Snapshot diff at 4M keys with ~1% churn, digest form: the exchange
    // carries key + 8-byte digest, never the 120-token payload.
    val snapOld = spark.range(4000000).select(col("id").as("k"),
      concat(lit("payload_"), col("id") % 97).as("a"),
      (col("id") % 1013L).as("b")).cache()
    val snapNew = spark.range(40000, 4040000).select(col("id").as("k"),
      concat(lit("payload_"),
        when(col("id") % 100 === 0, (col("id") % 97) + 1)
          .otherwise(col("id") % 97)).as("a"),
      (col("id") % 1013L).as("b")).cache()
    timed("snapshot_sides_materialize") { snapOld.count() + snapNew.count() }
    timed("snapshot_diff_digest_4M") {
      SnapshotDiff.rowStatusDigest(snapOld, snapNew, Seq("k"), Seq("a", "b"))
        .groupBy("status").count().count()
    }
    snapOld.unpersist(); snapNew.unpersist()

    timed("merge_cdc_4M_base_400k_changes") { // keyed MERGE at the CDC
      // trickle ratio (10%): ONE anti join vs the change keys + union;
      // the 4M-row base never shuffles on a non-key
      val base = spark.range(4000000).select(col("id").as("k"),
        (col("id") % 1013L).as("v"))
      val changes = spark.range(400000).select(
        (col("id") * 10L).as("k"),
        when(col("id") % 5 === 0, "D").otherwise("U").as("op"),
        (col("id") % 7L).as("v"))
      operators.Merge.applyChanges(base, changes, Seq("k")).count()
    }

    timed("quality_6_constraints_one_pass") { // six rules, ONE scan of a
      // 4M-row table — the report cost must not scale with rule count
      val tbl = spark.range(4000000).select(col("id").as("k"),
        (col("id") % 97L).cast("double").as("v"),
        concat(lit("S"), (col("id") % 3L)).as("status"))
      operators.Quality.report(tbl, Seq(
        operators.Quality.NotNull("k"),
        operators.Quality.InRange("v", 0.0, 90.0),
        operators.Quality.InSet("status", Seq("S0", "S1", "S2")),
        operators.Quality.Matches("status", "^S"),
        operators.Quality.Unique(Seq("k")),
        operators.Quality.Unique(Seq("k", "status")))).count()
    }

    timed("q18_agg_before_join_6M") { // the TPC-H Q18 shape at 100×: the
      // HAVING filter collapses 6M fact rows to a handful of keys BEFORE
      // any join — the anti-pattern (join first) would shuffle all 6M
      val fact = spark.range(6000000).select(
        (col("id") % 1500000L).as("okey"), (col("id") % 50 + 1).as("qty"))
      val dim = spark.range(1500000).select(col("id").as("okey"),
        concat(lit("c"), col("id") % 100000L).as("cust"))
      fact.groupBy("okey").agg(sum(col("qty")).as("sum_qty"))
        .filter(col("sum_qty") > 180)
        .join(dim, Seq("okey")).count()
    }

    // ---- bounded top-k / KMV vs the window-rank shape (round 10) ----
    // Wall-clock alone understates the difference at local[32]: the
    // exchange is an in-memory copy here, so also record SHUFFLE BYTES
    // WRITTEN — the quantity that becomes the network bottleneck on a
    // real cluster — via stage metrics.
    val shuffles = new ShuffleTimer(spark)
    import shuffles.timedShuffled
    // HONEST baseline first: Spark 4 already plans a PARTIAL
    // WindowGroupLimit below the exchange for row_number + rn<=k, so for
    // NARROW rows the window shape ships the same ~groups×k×partitions
    // rows the aggregator does (measured: 1.2 MB both at 1k groups).
    // The aggregator's batch edge is PAYLOAD: the window must shuffle
    // whole rows (its output needs them), while topKPerGroup ships
    // 16-byte (ord, tie) pairs and joins the ≤ groups×k winners back —
    // the wide-payload pair below measures exactly that. Its other
    // edges are structural: mergeable state (the streaming face), the
    // distinct mode (KMV), and no per-partition sort.
    // Fixture honesty, learned the hard way (each measured): (a) the
    // action is toRdd.count(), because DataFrame.count() lets column
    // pruning DELETE unused aggregate functions (count of groups does
    // not need count(distinct) — its exchange vanished); (b) payloads
    // are md5-derived, because shuffle files are LZ4'd and a repeated
    // character compresses 100:1 (40 MB of 'p's measured as 1.2 MB);
    // (c) distinct values must not be PROVABLY unique (distinct-key
    // tracking rewrites count(distinct unique_col) to count).
    def exec(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()
    def topkInput(groups: Long) = spark.range(10000000).select(
      (col("id") % groups).as("g"),
      (col("id") * 2654435761L % 1000003L).cast("double").as("v"),
      col("id"))
    for (groups <- Seq(1000L, 100000L)) {
      timedShuffled(s"topk_window_10M_${groups / 1000}kgroups") {
        // narrow rows: WindowGroupLimit caps both sides of the exchange
        import org.apache.spark.sql.expressions.Window
        exec(topkInput(groups).withColumn("rn", row_number().over(
            Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
          .filter(col("rn") <= 3))
      }
      timedShuffled(s"topk_agg_10M_${groups / 1000}kgroups") {
        // capped aggregator: ≤ 3 entries per group per input partition
        exec(Ranks.topKPerGroup(topkInput(groups), Seq("g"), col("v"),
          col("id"), k = 3))
      }
    }
    val widePayload = topkInput(1000L).withColumn("payload",
      concat(md5(col("id").cast("string").cast("binary")),
        md5((col("id") + 1).cast("string").cast("binary")),
        md5((col("id") + 2).cast("string").cast("binary")),
        md5((col("id") + 3).cast("string").cast("binary")),
        md5((col("id") + 4).cast("string").cast("binary")),
        md5((col("id") + 5).cast("string").cast("binary")),
        md5((col("id") + 6).cast("string").cast("binary")),
        md5((col("id") + 7).cast("string").cast("binary"))),
      ) // 256 hex chars/row of hash output — does not LZ4 away
    timedShuffled("topk_window_wide_10M_1kgroups") { // the window's
      // group-limit caps row COUNT, but every surviving row crosses the
      // exchange WITH its payload (the output needs the winners' bytes)
      import org.apache.spark.sql.expressions.Window
      exec(widePayload.withColumn("rn", row_number().over(
          Window.partitionBy("g").orderBy(col("v").desc, col("id"))))
        .filter(col("rn") <= 3).select("g", "rn", "payload"))
    }
    timedShuffled("topk_agg_wide_10M_1kgroups") { // aggregator never
      // ships payload: 16-byte pairs shuffle, the 3k winners join back
      val winners = Ranks.topKPerGroup(widePayload, Seq("g"), col("v"),
        col("id"), k = 3, tieName = "id")
      exec(widePayload.join(broadcast(winners.select("id", "rank")),
        Seq("id")).select("g", "rank", "payload"))
    }
    def kmvInput = spark.range(10000000).select(
      (col("id") % 8L).as("g8"),
      (col("id") * 2654435761L % 3000000L).as("v"))
    timedShuffled("distinct_exact_10M_8groups") { // the shape KMV
      // replaces: every distinct (g, value) crosses the exchange
      exec(kmvInput.groupBy("g8").agg(countDistinct(col("v"))))
    }
    timedShuffled("kmv_distinct_10M_8groups") { // same data: exchange
      // carries 64 hashes per group per partition, values never shuffle
      exec(Sketches.kmvSketch(kmvInput, Seq("g8"), col("v"), k = 64)
        .estimate)
    }

    // Prefix-filter Jaccard join candidate growth: the operator's scale
    // risk is the posting self-join — candidate volume is
    // Σ_token C(posting, 2), so it stays sub-quadratic in corpus size
    // ONLY while posting lengths stay bounded. Measure both regimes at
    // 1× and 4× corpus on Zipf-token docs:
    //  - FIXED vocabulary (adversarial: every token's df grows with the
    //    corpus, postings lengthen, candidates go quadratic — the
    //    hazard maxPosting exists to fail fast on);
    //  - OPEN vocabulary (realistic: Heaps' law, vocab grows with the
    //    corpus, per-token df — hence postings — stays flat, candidates
    //    grow ~linearly).
    def zipfCorpus(n: Long, vocab: Long) = {
      import spark.implicits._
      spark.range(n).flatMap { i =>
        val id = i.toLong
        val r = new scala.util.Random(id)
        def tok() = { val u = r.nextDouble() * r.nextDouble()
          s"z${(vocab * u).toInt}" }
        val words = Seq.fill(60)(tok()).mkString(" ")
        if (id % 10 == 0) Seq((id, words), (id + 10000000L, words + " ztail"))
        else Seq((id, words))
      }.toDF("doc_id", "text")
    }
    for (n <- Seq(50000L, 200000L)) {
      timedShuffled(s"jaccard_prefix_cands_fixedvocab_${n / 1000}kdocs") {
        exec(Dedup.jaccardPrefixCandidates(zipfCorpus(n, 50000L),
          col("doc_id"), col("text"), minJaccard = 0.8,
          maxPosting = 100000))
      }
      timedShuffled(s"jaccard_prefix_cands_openvocab_${n / 1000}kdocs") {
        exec(Dedup.jaccardPrefixCandidates(zipfCorpus(n, n),
          col("doc_id"), col("text"), minJaccard = 0.8,
          maxPosting = 100000))
      }
    }

    // PCA covariance pass: the exchange must carry ONE d(d+3)/2-double
    // buffer per partition (the mergeable typed Aggregator), never the
    // vectors — 1M×64 floats reduce to 32 ~17 KB partial buffers.
    {
      import spark.implicits._
      val vecs = spark.range(1000000L).map { i =>
        val r = new scala.util.Random(i)
        Tuple1(Array.fill(64)(r.nextGaussian()))
      }.toDF("embedding")
      timedShuffled("pca_covariance_1M_64d") {
        graft.operators.Pca.covariance(vecs, col("embedding"), 64).n
      }
    }

    // Aalen-Johansen at 1M closed subjects, 300 distinct times, 3
    // causes: the data-sized pass is the cause-count aggregate; the
    // in-row folds run on 300 rows per group, never on subjects.
    {
      import spark.implicits._
      val subj = spark.range(1000000L).map { i =>
        val r = new scala.util.Random(i)
        ("g" + (i % 4), (1 + r.nextInt(300)).toDouble, r.nextInt(5) match {
          case 0 => 0; case 1 | 2 => 1; case 3 => 2; case _ => 3 })
      }.toDF("g", "dur", "cause")
      timedShuffled("aalen_johansen_1M_300t_3cause") {
        exec(graft.operators.Stats.aalenJohansen(subj, Seq("g"),
          col("dur"), col("cause"), nCauses = 3))
      }
    }

    // Propensity-stratified ATE at 1M units / 20 segments: 3 Newton
    // aggregation passes + a per-segment NTILE sort + a 100-row strata
    // aggregate; and AIPW on the same frame (one extra conditional
    // moment pass + one term-sum pass, no ranking exchange at all).
    {
      import spark.implicits._
      val units = spark.range(1000000L).map { i =>
        val r = new scala.util.Random(i)
        val x = r.nextGaussian()
        val t = r.nextDouble() < 1.0 / (1.0 + math.exp(-1.5 * x))
        ("s" + (i % 20), i.toLong, x,
          t, 2.0 * (if (t) 1.0 else 0.0) + 1.5 * x + 0.3 * r.nextGaussian())
      }.toDF("seg", "id", "x", "t", "y")
      timedShuffled("propensity_ate_1M_20seg") {
        exec(graft.operators.Stats.propensityStratifiedAte(units,
          Seq("seg"), Seq(col("x")), col("t"), col("y"), col("id")))
      }
      timedShuffled("aipw_ate_1M") {
        exec(graft.operators.Stats.aipwAte(units, Seq(col("x")),
          col("t"), col("y")))
      }
    }

    // Incremental entity resolution: a 20k-record batch arriving on a
    // 200k-record store — the per-batch cost must track the BATCH, not
    // the corpus (stored records join by 16-byte band keys; only the
    // new 20k are shingled). Measured end-to-end through the real
    // ingest path (signature, band join, scoring, parquet appends).
    {
      import spark.implicits._
      val dir = "/tmp/graft_scale_er"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      def recs(from: Long, until: Long) = spark.range(from, until).map { i =>
        val r = new scala.util.Random(i % 180000)
        val words = Seq.fill(14)("w" + r.nextInt(500000)).mkString(" ")
        (i.toLong, words, "l" + (i % 5), 100L + (i % 400))
      }.toDF("id", "text", "lang", "len")
      val weights = Seq(("lang", 2.0, -2.0), ("len", 2.0, -2.0))
        .toDF("field", "w_agree", "w_disagree")
      val fields = Seq(
        "lang" -> (col("a_lang") === col("b_lang")),
        "len" -> (abs(col("a_len") - col("b_len")) <= 20L))
      def ingest(df: org.apache.spark.sql.DataFrame, id: Long): Unit =
        graft.streaming.StreamingEntityResolution.ingestBatch(df, id,
          "id", "text", Seq("lang", "len"), fields,
          weights.select(col("field"), col("w_agree"),
            col("w_disagree")).collect().toSeq,
          0.0, dir, 3, 24, 8, 200, graft.operators.Dedup.XxMinhash)
      timed("er_ingest_base_200k") { ingest(recs(0L, 200000L), 0L); 200000L }
      timed("er_ingest_batch_20k_on_200k") {
        ingest(recs(200000L, 220000L), 1L); 20000L }
      timedShuffled("er_merged_entities_220k") {
        exec(graft.streaming.StreamingEntityResolution
          .mergedEntities(spark, dir))
      }
    }

    spark.stop()
  }
}
