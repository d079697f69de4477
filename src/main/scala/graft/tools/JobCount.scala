package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts Spark jobs one catalog query launches (a floor-cost probe:
  * each job pays fixed scheduling latency regardless of data volume).
  * Usage: runMain graft.tools.JobCount <query> [sfDir]
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = new AtomicInteger()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    })
    graft.SparkEntry.queries(name)(spark, dir).count() // warm
    Thread.sleep(500); n.set(0)
    graft.SparkEntry.queries(name)(spark, dir).count()
    Thread.sleep(500)
    println(s"[jobcount] $name jobs=${n.get()}")
    spark.stop()
  }
}
