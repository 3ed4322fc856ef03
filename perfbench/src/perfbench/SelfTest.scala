package perfbench

import org.apache.spark.sql.SparkSession

/** Checks that [[Tracer]] attributes jobs and stages to the right op when
  * several clients run at once. Three client threads share one session;
  * each sets its own job group per op and runs jobs whose partition count
  * identifies the client. Every traced stage must carry the group of the
  * client whose partition count it ran with. Prints `ok` or exits 1.
  *
  * {{{ SelfTest <out.jsonl> }}}
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Out
    val tracer = new Tracer(out, System.currentTimeMillis())
    spark.sparkContext.addSparkListener(tracer)
    val failures = new java.util.concurrent.atomic.AtomicInteger()
    val clients = (1 to 3).map { c =>
      val t = new Thread(() => (1 to 5).foreach { i =>
        val sc = spark.sparkContext
        sc.setJobGroup(s"op-${c * 100 + i}", s"client $c", interruptOnCancel = false)
        sc.parallelize(1 to 1000, c).map(_ * 2).count()
        sc.parallelize(1 to 1000, c).map(x => (x % 7, x)).reduceByKey(_ + _, c).count()
        sc.clearJobGroup()
      })
      t.setUncaughtExceptionHandler((_, e) => { failures.incrementAndGet(); e.printStackTrace() })
      t
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val sc = spark.sparkContext
    sc.setJobGroup("drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!tracer.drained && System.nanoTime() < deadline) Thread.sleep(20)
    out.writeTo(args(0))
    spark.stop()
    val ok = tracer.drained && failures.get == 0
    println(if (ok) "ok" else s"drained=${tracer.drained} client failures=${failures.get}")
    if (!ok) sys.exit(1)
  }
}
