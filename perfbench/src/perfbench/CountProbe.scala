package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** Measures how much `count()` undercounts an op's cost against the action
  * a user runs (`collect()` or a `noop` write): Catalyst prunes every column
  * `count()` does not need. Prints one line per op with the median of
  * `reps` warm runs of each action.
  *
  * {{{ CountProbe <corpus dir> <cores> <reps> <op> [<op> ...] }}}
  */
object CountProbe {
  def main(args: Array[String]): Unit = {
    val Array(dir, cores, reps) = args.take(3)
    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench-count")
      .config("spark.sql.shuffle.partitions", cores).config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def median(f: () => Unit): Double = {
      f()
      val ts = (1 to reps.toInt).map { _ =>
        val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e6
      }.sorted
      ts(ts.length / 2)
    }
    args.drop(3).foreach { name =>
      def df = SparkEntry.queries(name)(spark, dir)
      val countMs = median(() => { df.count(); () })
      val collectMs = median(() => { df.collect(); () })
      val noopMs = median(() => df.write.format("noop").mode("overwrite").save())
      println(f"$name%-28s count ${countMs}%8.1f ms  collect ${collectMs}%8.1f ms  noop ${noopMs}%8.1f ms")
    }
    spark.stop()
  }
}
