package graft.tools

import org.apache.spark.sql.SparkSession

/** Generic single-session interleaved A/B over a session-conf kill
  * switch: base, opt, base, opt; min-of-2 per arm; one session, so
  * host weather, JIT and codec warmup hit both arms equally (the
  * two-session form of such a comparison disagreed with itself by
  * 2–4× per query in both directions).
  *
  * `Test/runMain graft.tools.ConfAbProbe <confKey> <baseVal> <optVal> q1,q2,...`
  *
  * Example, whole-stage codegen on two codec queries:
  * `ConfAbProbe spark.sql.codegen.wholeStage false true m_png_resize,m_avi_motion_banded`.
  *
  * The adaptive tiny-input spread ([[graft.Tuning.spreadTinyInput]])
  * has no session conf: measure it by wrapping an entry's body in
  * `SparkEntry.noSpread` (the construction-scoped opt-out) in one
  * build and not in the other.
  */
object ConfAbProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: ConfAbProbe <confKey> <baseVal> <optVal> <names,csv>")
    val (key, baseVal, optVal) = (args(0), args(1), args(2))
    val names = args(3).split(',').toSeq.filter(graft.SparkEntry.queries.contains)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-conf-ab-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Tuning.configureShuffle(spark, Seq(sfDir), cpus.toInt)
    try {
      graft.engine.GraphiteTables.index(spark, sfDir).count()
      graft.engine.GraphiteTables.tags(spark, sfDir).count()
      graft.engine.GraphiteTables.points(spark, sfDir).count()
      graft.engine.GraphiteTables.pointsTagged(spark, sfDir).count()
    } catch { case _: Throwable => }
    try {
      val n = math.max(cpus.toInt, 1)
      spark.sparkContext.parallelize(0 until 4 * n, 4 * n)
        .foreach(_ => graft.llm.Multimodal.warmCodecs())
    } catch { case _: Throwable => }

    @volatile var jobs = 0L
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    })

    def once(name: String, v: String): (Double, Long) = {
      spark.conf.set(key, v)
      val j0 = jobs
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      ((System.nanoTime() - t0) / 1e9, jobs - j0)
    }
    for (name <- names) {
      try {
        val (b1, jb) = once(name, baseVal)
        val (s1, jo) = once(name, optVal)
        val (b2, _) = once(name, baseVal)
        val (s2, _) = once(name, optVal)
        val b = math.min(b1, b2); val s = math.min(s1, s2)
        println(f"CONFAB | $name | $b%.3f | $s%.3f | ${s / b}%.2f | jobs $jb -> $jo |")
      } catch {
        case e: Throwable =>
          println(s"CONFAB-ERR $name ${Option(e.getMessage).getOrElse("?").take(160)}")
      } finally spark.conf.unset(key)
    }
    spark.stop()
  }
}
