package graft.tools

import graft.SparkTestBase

/** Census mode: executed-plan operator counts for every registered
  * query at sf0.001 → markdown table rows on stdout.
  *
  * `Test/runMain graft.tools.DriveScratch sq8` switches to the
  * e_sq8_search phase-timing drive (r9→r10 regression triage).
  */
object DriveScratch {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("sq8")) { sq8Drive(); return }
    if (args.headOption.contains("groupleft")) { groupLeftDrive(args.drop(1)); return }
    if (args.headOption.contains("maxsim")) { maxSimDrive(args.drop(1)); return }
    if (args.headOption.contains("avilums")) { aviLumsDrive(args.drop(1)); return }
    if (args.headOption.contains("bitext")) { bitextDrive(args.drop(1)); return }
    if (args.headOption.contains("splitmedia")) { splitMediaDrive(args.drop(1)); return }
    val spark = SparkTestBase.spark
    val sfDir = "/root/testdata/sf0.001"

    def census(name: String)(build: => org.apache.spark.sql.DataFrame): Unit =
      try {
        val df = build
        df.write.mode("overwrite").format("noop").save()
        val p = df.queryExecution.executedPlan.toString
        def n(pat: String) = pat.r.findAllIn(p).length
        println(s"CENSUS | $name | ${n("FileScan parquet")} | ${n("Exchange")} | " +
          s"${n("SortMergeJoin") + n("ShuffledHashJoin")} | ${n("BroadcastHashJoin")} | " +
          s"${n("BroadcastNestedLoopJoin")} | ${n("Window")} | ${n("CartesianProduct")} |")
      } catch {
        case e: Throwable =>
          println(s"CENSUS-ERR $name ${Option(e.getMessage).getOrElse("?").take(120)}")
      }

    // memoized-table derivation census first: per-query rows below
    // stop at the memoized LogicalRDD, so the cost of deriving each
    // graphite side table is reported here ONCE (it is paid once per
    // session, by the raw builders the memo wraps) instead of being
    // invisible.
    import graft.engine.{Finder, GraphiteTables, Render}
    census("memo:index")(GraphiteTables.indexRows(spark, sfDir))
    census("memo:tags")(GraphiteTables.tagRows(spark, sfDir))
    census("memo:points")(GraphiteTables.points(spark, sfDir))
    census("memo:pointsTagged")(GraphiteTables.pointsTagged(spark, sfDir))

    // the g_render_* rows census only their driver-assembled local
    // relation; the render's Spark half is one plan per (step,
    // function) group, censused here as PlanAuditSpec audits it
    for (mode <- Seq(Render.VersionMode.DedupExact, Render.VersionMode.MergedCells))
      census(s"render:group($mode)") {
        val found = Finder.find(GraphiteTables.index(spark, sfDir), "events.*.*")
          .select("path").collect().map(_.getString(0)).toSeq
        Render.fetchGroup(GraphiteTables.points(spark, sfDir),
          Render.FuncGroup(60L, graft.rollup.AggFunc.Avg, found),
          graft.model.TimeFrame(1704067200L, 1704070799L), mode)
      }

    // optional arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      args.headOption.map(_.split(',').toSet)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    for (name <- names) census(name)(graft.SparkEntry.queries(name)(spark, sfDir))
    spark.stop()
  }

  /** Mined-pair recall of the IVF-shortlisted bitext miner vs the
    * brute form, by nprobe — picks the registered setting.
    */
  private def bitextDrive(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = SparkTestBase.spark
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    val a = vecs.where(pmod(col("vec_id"), lit(2)) === 0)
    val b = vecs.where(pmod(col("vec_id"), lit(2)) === 1)
    val brute = graft.llm.Similarity.marginMine(
        graft.llm.Similarity.bruteKnn(b, a, k = 4),
        graft.llm.Similarity.bruteKnn(a, b, k = 4))
      .where(col("margin") > 1.0)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nlist = graft.llm.Similarity.ivfPlan(vecs.count())
    val centroids = vecs.where(col("vec_id") < nlist)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    for (nprobe <- Seq(2, 4, 8, 16)) {
      def side(stored: org.apache.spark.sql.DataFrame,
               queries: org.apache.spark.sql.DataFrame) =
        graft.llm.Similarity.ivfSearch(stored, centroids, queries, k = 4,
          nprobe = nprobe, broadcastProbes = false)
      val mined = graft.llm.Similarity.marginMine(side(b, a), side(a, b))
        .where(col("margin") > 1.0)
        .select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      println(s"BITEXT dir=$dir nlist=$nlist nprobe=$nprobe brute=${brute.size} " +
        s"mined=${mined.size} overlap=${(brute & mined).size} " +
        f"recall=${(brute & mined).size.toDouble / brute.size}%.3f")
    }
  }

  /** Max |decoded − analytic| per-frame mean luminance over a corpus —
    * picks the m_avi_motion_banded tolerance (band width must dominate
    * the JPEG round-trip error with a wide margin).
    */
  private def aviLumsDrive(args: Array[String]): Unit = {
    val spark = SparkTestBase.spark
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
    var maxErr = 0.0; var maxMotionErr = 0.0; var n = 0
    docs.foreach { r =>
      val id = r.getLong(0)
      val text = Option(r.getString(1)).getOrElse("")
      val w = (8 + (id % 5)).toInt; val h = (6 + (id % 4)).toInt
      val nF = (2 + (id % 4)).toInt
      val seed = text.getBytes("UTF-8")
      def analytic(f: Int): Double = {
        val base = if (seed.isEmpty) 0 else (seed(f % seed.length) & 0xff) >> 1
        val rx = (0 until w).map(x => (x * 127) / (w - 1)).sum.toDouble / w
        val ry = (0 until h).map(y => (y * 127) / (h - 1)).sum.toDouble / h
        (base + 0.299 * rx + 0.587 * ry + 0.114 * math.min(16 * f, 255 - base)) / 255.0
      }
      val avi = graft.llm.Multimodal.aviBytes(
        (0 until nF).map(f => graft.llm.Multimodal.jpegFrame(seed, w, h, f)), w, h)
      val lums = graft.llm.Multimodal.aviFrames(avi).flatMap { case (_, j) =>
        Option(graft.llm.Multimodal.decodeImageOrNull(j)).map { im =>
          var s = 0.0
          for (y <- 0 until im.getHeight; x <- 0 until im.getWidth) {
            val rgb = im.getRGB(x, y)
            s += (0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)) / 255.0
          }
          s / (im.getWidth * im.getHeight)
        }
      }
      val an = (0 until nF).map(analytic)
      lums.zip(an).foreach { case (d, a) =>
        maxErr = math.max(maxErr, math.abs(d - a)); n += 1 }
      val dm = if (lums.length < 2) 0.0
        else lums.sliding(2).map(p => math.abs(p(1) - p(0))).sum / (lums.length - 1)
      val am = if (an.length < 2) 0.0
        else an.sliding(2).map(p => math.abs(p(1) - p(0))).sum / (an.length - 1)
      maxMotionErr = math.max(maxMotionErr, math.abs(dm - am))
    }
    println(f"AVILUMS dir=$dir frames=$n maxLumErr=$maxErr%.6f maxMotionErr=$maxMotionErr%.6f")
  }

  /** Recall of the two-stage (IVF-shortlist) MaxSim vs the exhaustive
    * form at a given sf dir — picks the spec's pinned recall floor.
    */
  private def maxSimDrive(args: Array[String]): Unit = {
    import org.apache.spark.sql.functions._
    val spark = SparkTestBase.spark
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .withColumn("group_id", floor(col("vec_id") / 4).cast("long"))
    val q = vecs.where(col("group_id") < 3)
    val exhaustive = graft.llm.Similarity.maxSim(vecs, q, k = 3)
      .select("q_group", "d_group", "maxsim")
    for (nprobe <- Seq(1, 2, 4)) {
      val nlist = graft.llm.Similarity.ivfPlan(vecs.count())
      val centroids = vecs.where(col("vec_id") < nlist)
        .select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
      val two = graft.llm.Similarity
        .maxSimShortlist(vecs, q, centroids, k = 3, nprobe = nprobe)
        .select(col("q_group"), col("d_group"), col("maxsim").as("m2"))
      val joined = exhaustive.join(two, Seq("q_group", "d_group"))
      val nEx = exhaustive.count(); val nHit = joined.count()
      val mism = joined.where(col("maxsim") =!= col("m2")).count()
      println(s"MAXSIM dir=$dir nprobe=$nprobe nlist=$nlist " +
        s"recall=${nHit.toDouble / nEx} ($nHit/$nEx) score_mismatch=$mism")
    }
  }

  /** Stage-level triage of p_query_groupleft at a scaled dir: per-stage
    * wall time + task count + shuffle volumes, plus the formatted plan.
    */
  private def groupLeftDrive(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/scale/x100")
    val threads = args.lift(1).getOrElse("32")
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = for {
          s <- si.submissionTime; c <- si.completionTime
        } yield c - s
        stages.add(f"GLSTAGE ${si.stageId}%4d ${ms.getOrElse(-1L)}%7d ms " +
          f"tasks=${si.numTasks}%3d in=${si.taskMetrics.inputMetrics.bytesRead / 1048576}%5d MB " +
          f"sh-r=${si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1048576}%5d MB " +
          f"sh-w=${si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1048576}%5d MB " +
          f"spill=${si.taskMetrics.diskBytesSpilled / 1048576}%5d MB | ${si.name.take(60)}")
      }
    })
    try {
      graft.engine.GraphiteTables.index(spark, dir).count()
      graft.engine.GraphiteTables.tags(spark, dir).count()
      graft.engine.GraphiteTables.points(spark, dir).count()
      graft.engine.GraphiteTables.pointsTagged(spark, dir).count()
    } catch { case _: Throwable => }
    stages.clear()
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.queries("p_query_groupleft")(spark, dir)
    df.write.mode("overwrite").format("noop").save()
    println(f"GLTOTAL ${(System.nanoTime() - t0) / 1e9}%.1f s")
    Thread.sleep(2000) // let listener drain
    stages.forEach(println)
    println(df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")).take(8000))
    spark.stop()
  }

  /** Stage-wise timing of the d_split_media chain on scaled dirs —
    * round-14 triage for the 17.5×/decade ×10 leg. */
  private def splitMediaDrive(args: Seq[String]): Unit = {
    val spark = SparkTestBase.spark
    import graft.llm.{Dedup, Multimodal, Sampling}
    import graft.Lineage.TruncateOps
    import org.apache.spark.sql.functions._
    val dirs = if (args.nonEmpty) args.toSeq else Seq("target/scale/x1", "target/scale/x10")
    for (dir <- dirs) {
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime(); val r = f
        println(f"SMD | $dir | $name | ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val fps = Multimodal.dhash(Multimodal.withPngPayload(docs))
        .truncateLineage(eager = false)
      t("decode+dhash")(fps.count())
      val pairs = Multimodal.dhashPairs(fps, maxDist = 10)
        .select("id_a", "id_b").truncateLineage(eager = false)
      val np = t("pairs")(pairs.count())
      println(s"SMD | $dir | n_pairs | $np")
      val cl = t("cc") {
        val c = Dedup.clusters(pairs).withColumnRenamed("id", "doc_id")
          .truncateLineage(eager = false)
        c.count(); c
      }
      t("split") {
        Sampling.splitGrouped(
          docs.join(cl, Seq("doc_id"), "left_outer"),
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)),
          coalesce(col("cluster_id"), col("doc_id"))).count()
      }
    }
  }

  private def sq8Drive(): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    import graft.llm.Similarity
    val spark = SparkTestBase.spark
    val dir = "/root/testdata/sf0.1"
    def t(label: String)(f: => Unit): Double = {
      val t0 = System.nanoTime(); f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"SQ8TIME $label $s%.3f s"); s
    }
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
    println(s"SQ8ROWS ${vecs.count()}")
    // OLD shape: driver-collected train stats + literal-array encode
    def oldSearch(): Unit = {
      val dim = 64; val k = 5
      val (mins, scales) = Similarity.sq8Train(vecs, dim)
      val mn = array(mins.map(lit): _*)
      val sc = array(scales.map(lit): _*)
      val enc = Similarity.sq8Encode(vecs, mins, scales)
      val deq = zip_with(col("codes"), sequence(lit(1), lit(dim)),
        (c, i) => element_at(mn, i) + c.cast("double") / 255.0 * element_at(sc, i))
      val q = vecs.where(col("vec_id") < 5)
        .select(col("vec_id").cast("long").as("query_id"), col("embedding").as("q_emb"))
      val scored = enc.join(broadcast(q), col("query_id") =!= col("vid"))
        .withColumn("dist", Similarity.l2sq(deq, col("q_emb")))
      val w = Window.partitionBy("query_id").orderBy(col("dist").asc, col("vid").asc)
      scored.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("vid").as("neighbor_id"),
          round(col("dist"), 4).as("dist"))
        .write.mode("overwrite").format("noop").save()
    }
    def newSearch(): Unit =
      Similarity.sq8Search(vecs, vecs.where(col("vec_id") < 5), k = 5, dim = 64)
        .write.mode("overwrite").format("noop").save()
    // interleave old/new, report per-variant min — same JVM, same weather
    var oldMin = Double.MaxValue; var newMin = Double.MaxValue
    for (round <- 1 to 4) {
      oldMin = math.min(oldMin, t(s"r$round-old")(oldSearch()))
      newMin = math.min(newMin, t(s"r$round-new")(newSearch()))
    }
    println(f"SQ8MIN old $oldMin%.3f new $newMin%.3f")
    spark.stop()
  }
}
