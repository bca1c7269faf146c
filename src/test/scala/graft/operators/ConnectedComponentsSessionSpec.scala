package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicBoolean
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Dedup.connectedComponents]] sizes its loop's shuffles to the edge
  * count on a session of its own: the caller's session conf is never
  * written, so a query planned concurrently on the caller's session keeps
  * the caller's width. */
class ConnectedComponentsSessionSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val Key = "spark.sql.shuffle.partitions"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("connected-components-session-spec")
      .config(Key, "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("a concurrent reader sees only the caller's shuffle width while the loop runs") {
    val s = spark
    import s.implicits._
    spark.catalog.clearCache()
    val callerWidth = spark.conf.get(Key)
    // a 200-node chain takes several rounds; its edge count sizes the
    // loop's width to 1, not the caller's 4
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val seen = ConcurrentHashMap.newKeySet[String]()
    val done = new AtomicBoolean(false)
    val poller = new Thread(() =>
      while (!done.get()) { seen.add(spark.conf.get(Key)); LockSupport.parkNanos(200000L) })
    poller.setDaemon(true)
    poller.start()
    val labels =
      try Dedup.connectedComponents(chain)
      finally { done.set(true); poller.join() }
    assert(seen.asScala.toSet === Set(callerWidth),
      "another query on the caller's session would have planned at the loop's width")
    assert(spark.conf.get(Key) === callerWidth)
    assert(labels.sparkSession eq spark, "the result must belong to the caller's session")
    val comps = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(comps.length === 200 && comps.forall(_._2 === 0L))
    Dedup.unpersistAll(spark)
    assert(cacheEmpty, "unpersistAll left a cached frame behind")
  }
}
