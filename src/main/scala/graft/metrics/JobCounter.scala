package graft.metrics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started while a block runs, per tag.
  *
  * [[tagged]] sets a thread-local Spark property around the block; every
  * job submitted inside it (including from threads Spark forks for it,
  * which inherit local properties) carries the tag to `onJobStart`.
  * Listener events arrive asynchronously, so [[counts]] first runs a
  * one-task sentinel job and waits until the listener has seen it: the
  * bus delivers in order, so every earlier job has been counted.
  */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val Key = "graft.jobCounter.tag"
  private val byTag = new ConcurrentHashMap[String, AtomicInteger]()
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .foreach(t =>
        byTag.computeIfAbsent(t, _ => new AtomicInteger).incrementAndGet())

  def tagged[T](tag: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Jobs started per tag so far; tags that started none are absent. */
  def counts(): Map[String, Int] = {
    val sentinel = s"sentinel-${java.util.UUID.randomUUID}"
    tagged(sentinel)(sc.parallelize(Seq(0), 1).foreach(_ => ()))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!byTag.containsKey(sentinel) && System.nanoTime() < deadline)
      Thread.sleep(1)
    require(byTag.remove(sentinel) != null,
      "JobCounter: listener bus did not deliver the sentinel job in 60 s")
    val out = Map.newBuilder[String, Int]
    byTag.forEach((t, n) => out += t -> n.get)
    out.result()
  }

  def close(): Unit = sc.removeSparkListener(this)
}
