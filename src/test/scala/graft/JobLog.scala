package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block of code starts, seen by a SparkListener. */
object JobLog {

  /** `spark.job.description` of every job started while `f` runs, in
    * start order ("" for an undescribed job). The listener bus delivers
    * events in order, so `f`'s jobs are the ones seen between a fence
    * job run before it and one run after. */
  def descriptionsDuring(spark: SparkSession)(f: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new LinkedBlockingQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.put(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def fence(tag: String): Unit = {
      val outer = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(outer)
    }
    def drainTo(tag: String): Seq[String] = {
      val out = Seq.newBuilder[String]
      var d = seen.poll(60, TimeUnit.SECONDS)
      while (d != tag) {
        assert(d != null, s"listener never saw the $tag fence job")
        out += d
        d = seen.poll(60, TimeUnit.SECONDS)
      }
      out.result()
    }
    sc.addSparkListener(l)
    try {
      fence("fence-before")
      drainTo("fence-before")
      f
      fence("fence-after")
      drainTo("fence-after")
    } finally sc.removeSparkListener(l)
  }
}
