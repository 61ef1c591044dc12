package perfbench

import graft.SparkEntry
import org.apache.spark.sql.functions._

/** Checks of the benchmark's own JVM code, run by `test_perfbench.py`:
  * the fingerprint ignores row order and sees a changed value, and the
  * build / execute job attribution of a registry id repeats exactly. */
object SelfTest {
  import Main._

  def apply(conf: Map[String, String]): Unit = {
    val dir = conf("data")
    val ids = Seq("q_graph_cc_sizes", "q_join_inner")
    val spark = session()
    import spark.implicits._
    var failures = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok" else "FAIL"} $name")
      if (!ok) failures += 1
    }

    val rows = Seq(
      (1L, 0.1 + 0.2, Seq(1.5, -0.0), Map("a" -> 1.0, "b" -> 2.0), "x"),
      (2L, -0.0, Seq.empty[Double], Map("b" -> 2.0, "a" -> 1.0), null),
      (3L, Double.NaN, Seq(2.0), Map.empty[String, Double], "z"))
    val df = rows.toDF("k", "d", "arr", "m", "s").withColumn("st", struct(col("k"), col("d")))
    val fp = Fingerprint.of(df)
    check("fingerprint ignores row order",
      Fingerprint.of(df.orderBy(col("k").desc).repartition(3)) == fp)
    check("fingerprint ignores partitioning",
      Fingerprint.of(df.repartition(7, col("k"))) == fp)
    check("fingerprint folds -0.0 into 0.0",
      Fingerprint.of(df.withColumn("d", when(col("k") === 2, lit(0.0)).otherwise(col("d")))) == fp)
    check("fingerprint ignores last-bit float noise",
      Fingerprint.of(df.withColumn("d", when(col("k") === 1, lit(0.3)).otherwise(col("d")))) == fp)
    check("fingerprint sees a changed value",
      Fingerprint.of(df.withColumn("s", when(col("k") === 3, lit("y")).otherwise(col("s")))) != fp)
    check("fingerprint sees a dropped row", Fingerprint.of(df.filter(col("k") =!= 2)) != fp)
    check("fingerprint sees a duplicated row", Fingerprint.of(df.union(df.filter(col("k") === 1))) != fp)
    check("fingerprint counts rows", fp._1 == 3L)

    val tr = new Trace
    tr.attach(spark)
    val sc = spark.sparkContext
    ids.foreach { id =>
      def once(tag: String): (Int, Int, Int) = {
        val t0 = System.currentTimeMillis()
        sc.setJobGroup(s"$tag|build", id, interruptOnCancel = false)
        val q = SparkEntry.queries(id)(spark, dir)
        sc.setJobGroup(s"$tag|exec", id, interruptOnCancel = false)
        noop(q)
        sc.clearJobGroup()
        tr.drain()
        val w = tr.window(t0, System.currentTimeMillis(), identity)
        (w.jobsBySpan.getOrElse(s"$tag|build", 0), w.jobsBySpan.getOrElse(s"$tag|exec", 0), w.jobs)
      }
      once(s"$id-w")
      val a = once(s"$id-a")
      val b = once(s"$id-b")
      println(s"  $id build/exec/total jobs: $a $b")
      check(s"$id: job attribution repeats exactly", a == b)
      check(s"$id: every job is attributed to build or execute", a._1 + a._2 == a._3)
      check(s"$id: execution ran at least one job", a._2 > 0)
    }
    spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
