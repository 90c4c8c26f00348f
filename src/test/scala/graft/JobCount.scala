package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of driver code starts: each call tags
  * its thread's jobs with a fresh local property, and a listener counts
  * job starts per tag. Listener events arrive asynchronously but in
  * order, so once a sentinel job started after the block has been seen,
  * every job the block started has been counted. */
object JobCount {
  private val Key = "graft.test.jobTag"
  private val counts = new ConcurrentHashMap[String, AtomicInteger]()
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach(
        counts.computeIfAbsent(_, _ => new AtomicInteger).incrementAndGet())
  }
  private val installed = ConcurrentHashMap.newKeySet[SparkSession]()

  /** `body`'s result and the number of jobs it started on this thread. */
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    if (installed.add(spark)) sc.addSparkListener(listener)
    val tag = java.util.UUID.randomUUID.toString
    def tagged[R](t: String)(f: => R): R = {
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, t)
      try f finally sc.setLocalProperty(Key, prev)
    }
    val out = tagged(tag)(body)
    val sentinel = s"$tag-sentinel"
    tagged(sentinel)(sc.parallelize(Seq(1), 1).count())
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!counts.containsKey(sentinel) && System.nanoTime() < deadline)
      Thread.sleep(10)
    assert(counts.containsKey(sentinel), "the sentinel job never reached the listener")
    (out, Option(counts.get(tag)).fold(0)(_.get))
  }
}
