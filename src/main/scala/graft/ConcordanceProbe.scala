package graft

import org.apache.spark.sql.functions._

/** Round-15 scale probes: Harrell's C at 1M subjects (the operator was
  * shelved twice as quadratic — this run proves the bucket-grid
  * decomposition holds), the win ratio at 1M subjects (tiered
  * Mann–Whitney counts, no pair join), and er_* store maintenance
  * (ingest latency against a fragmented vs compacted store).
  *
  * Run: `sbt "runMain graft.ConcordanceProbe"`. One JSON line per
  * stage, the ScaleProbe convention.
  */
object ConcordanceProbe {

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local("graft-concordance-probe")
    import spark.implicits._

    val shuffles = new ShuffleTimer(spark)
    import shuffles.timedShuffled
    def exec(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.toRdd.count()

    // ---- Harrell's C: 1M subjects, 4 groups, 300 distinct times,
    // continuous risk (every subject a distinct risk value — the
    // worst case for the same-bucket cells) ----
    val subjects = spark.range(1000000).map { i =>
      val r = new scala.util.Random(i)
      ("g" + (i % 4), (r.nextInt(300) + 1).toDouble, r.nextInt(3) != 0,
        r.nextGaussian())
    }.toDF("g", "t", "e", "risk")
    subjects.persist(); subjects.count()
    timedShuffled("harrell_c_1M_4g_b1024") {
      exec(graft.operators.Concordance.harrellC(subjects, Seq("g"),
        col("t"), col("e"), col("risk"), buckets = 1024))
    }
    timedShuffled("harrell_c_1M_4g_b256") {
      exec(graft.operators.Concordance.harrellC(subjects, Seq("g"),
        col("t"), col("e"), col("risk"), buckets = 256))
    }
    subjects.unpersist()

    timedShuffled("uno_c_1M_4g_b1024") {
      val su = spark.range(1000000).map { i =>
        val r = new scala.util.Random(i)
        ("g" + (i % 4), (r.nextInt(300) + 1).toDouble, r.nextInt(3) != 0,
          r.nextGaussian())
      }.toDF("g", "t", "e", "risk")
      exec(graft.operators.Concordance.unoC(su, Seq("g"), col("t"),
        col("e"), col("risk"), tau = 250.0, buckets = 1024))
    }

    // ---- AUC(t)/Brier(t): 1M subjects × 3 horizons ----
    val surv = spark.range(1000000).map { i =>
      val r = new scala.util.Random(i + 3)
      ("g" + (i % 4), (r.nextInt(300) + 1).toDouble, r.nextInt(3) != 0,
        r.nextGaussian())
    }.toDF("g", "t", "e", "risk")
    timedShuffled("auc_t_1M_3h") {
      exec(graft.operators.Concordance.aucT(surv, Seq("g"), col("t"),
        col("e"), col("risk"), Seq(50.0, 150.0, 250.0)))
    }
    timedShuffled("auc_t_ipcw_1M_3h") {
      exec(graft.operators.Concordance.aucTIpcw(surv, Seq("g"),
        col("t"), col("e"), col("risk"), Seq(50.0, 150.0, 250.0)))
    }
    timedShuffled("brier_t_1M_3h") {
      val hs = Seq(50.0, 150.0, 250.0)
      val withPred = surv.withColumn("pred", array(hs.map(h =>
        lit(1.0) / (lit(1.0) + lit(h) / (lit(10.0) +
          col("risk") * col("risk")))): _*))
      exec(graft.operators.Concordance.brierIpcw(withPred, Seq("g"),
        col("t"), col("e"), col("pred"), hs))
    }

    timedShuffled("smr_1M_4g") {
      val su = spark.range(1000000).map { i =>
        val r = new scala.util.Random(i + 5)
        ("g" + (i % 4), (r.nextInt(300) + 1).toDouble, r.nextInt(3) != 0)
      }.toDF("g", "t", "e")
      exec(graft.operators.Stats.smr(su, Seq("g"), col("t"), col("e")))
    }
    timedShuffled("surv_calibration_1M_4g_10bins") {
      val su = spark.range(1000000).map { i =>
        val r = new scala.util.Random(i + 9)
        ("g" + (i % 4), (r.nextInt(300) + 1).toDouble, r.nextInt(3) != 0,
          r.nextDouble(), i)
      }.toDF("g", "t", "e", "pred", "id")
      exec(graft.operators.Concordance.survivalCalibration(su, Seq("g"),
        col("t"), col("e"), col("pred"), col("id"), horizon = 150.0))
    }
    timedShuffled("trend_logrank_1M_4g_8lvl") {
      val su = spark.range(1000000).map { i =>
        val r = new scala.util.Random(i + 11)
        ("g" + (i % 4), (i % 8).toDouble, (r.nextInt(300) + 1).toDouble,
          r.nextInt(3) != 0)
      }.toDF("g", "l", "t", "e")
      exec(graft.operators.Stats.trendLogRank(su, Seq("g"), col("t"),
        col("e"), col("l")))
    }

    // ---- win ratio: 1M subjects, tiered composite with heavy ties ----
    val wr = spark.range(1000000).map { i =>
      val r = new scala.util.Random(i + 7)
      ("g" + (i % 4), i % 2 == 0, (r.nextInt(300)).toDouble,
        (r.nextInt(50)).toDouble)
    }.toDF("g", "arm", "o1", "o2")
    timedShuffled("win_ratio_1M_4g_2tiers") {
      exec(graft.operators.Stats.winRatio(wr, Seq("g"), col("arm"),
        Seq(col("o1"), col("o2"))))
    }

    // ---- Jonckheere at 1M: grid = 8 levels × distinct values ----
    val jt = spark.range(1000000).map { i =>
      val r = new scala.util.Random(i + 13)
      ("g" + (i % 4), (i % 8).toLong, (r.nextInt(2000)).toDouble)
    }.toDF("g", "l", "x")
    timedShuffled("jonckheere_1M_4g_8lvl") {
      exec(graft.operators.Stats.jonckheereTerpstra(jt, Seq(col("g")),
        col("l"), col("x")))
    }

    // ---- er maintenance: 12 small batches fragment the stores; the
    // warm ingest rides er_keys, so file bloat taxes it directly ----
    {
      val dir = "/tmp/graft_scale_ermaint"
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      def recs(from: Long, until: Long) = spark.range(from, until).map { i =>
        val r = new scala.util.Random(i % 90000)
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
      def keyFiles(): Long = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$dir/er_keys"))
        .count(f => f.getPath.getName.endsWith(".parquet")).toLong
      timedShuffled("er_base_50k_plus_12_batches_5k") {
        ingest(recs(0L, 50000L), 0L)
        (1 to 12).foreach(b => ingest(
          recs(50000L + (b - 1) * 5000L, 50000L + b * 5000L), b.toLong))
        keyFiles()
      }
      timedShuffled("er_ingest_5k_on_fragmented_store") {
        ingest(recs(110000L, 115000L), 13L); keyFiles()
      }
      timedShuffled("er_maintenance_compact") {
        graft.streaming.StreamingEntityResolution.erMaintenance(spark,
          dir).map(_.rowsAfter).sum
      }
      timedShuffled("er_ingest_5k_on_compacted_store") {
        ingest(recs(115000L, 120000L), 14L); keyFiles()
      }
    }
    spark.stop()
  }
}
