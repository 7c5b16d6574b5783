package graft

import graft.operators.{Dedup, Graph, Rounds}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The round seam's release rule, end to end: an iterative operator
  * leaves behind the same checkpointed/persisted frames whatever its
  * round count, and a round that was only partly read keeps its
  * predecessor.
  */
class RoundsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A symmetrized path 0 - 1 - … - (n-1) as (src, dst). */
  private def chain(n: Int): DataFrame = {
    val s = spark
    import s.implicits._
    (0L until n - 1L).flatMap(i => Seq((i, i + 1), (i + 1, i))).toDF("src", "dst")
  }

  /** Persisted RDDs (checkpoints included) a call leaves behind while
    * its result is held and read. A poller holds every RDD persisted
    * during the call: the ContextCleaner frees an RDD only once it is
    * garbage-collected, so holding them means only an explicit release
    * can unpersist a dead round — the count does not depend on when
    * the JVM collects.
    */
  private def leftover(run: => DataFrame): Int = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val held = new java.util.concurrent.ConcurrentHashMap[Int, RDD[_]]()
    def hold(): Unit = sc.getPersistentRDDs.foreach { case (id, r) =>
      if (!before(id)) held.putIfAbsent(id, r)
    }
    @volatile var polling = true
    val poller = new Thread(() => while (polling) { hold(); Thread.sleep(2) })
    poller.start()
    val out = try run finally { polling = false; poller.join() }
    out.collect()
    hold()
    val left = held.values.asScala.count(_.getStorageLevel != StorageLevel.NONE)
    out.unpersist()
    left
  }

  /** The frames a short and a long run leave behind: equal, although
    * the long run needs more rounds. */
  private def assertFlat(loop: String, short: => DataFrame,
      long: => DataFrame): Unit = {
    val s = leftover(short)
    val sr = Rounds.last(loop).getOrElse(0)
    val l = leftover(long)
    val lr = Rounds.last(loop).getOrElse(0)
    assert(lr > sr, s"$loop: the long input must need more rounds ($lr vs $sr)")
    assert(l === s, s"$loop leaves $l frames after $lr rounds, $s after $sr")
    spark.catalog.clearCache()
  }

  test("kCore leaves the same frames behind on a short and a long chain") {
    assertFlat("kcore", Graph.kCore(chain(6), 2L), Graph.kCore(chain(30), 2L))
  }

  test("coreness leaves the same frames behind on a short and a long chain") {
    assertFlat("coreness", Graph.coreness(chain(6)), Graph.coreness(chain(30)))
  }

  test("dedupClustersStars leaves the same frames behind on a short and a long chain") {
    def pairs(n: Int) = chain(n).filter("src < dst")
      .selectExpr("src AS doc_a", "dst AS doc_b")
    assertFlat("stars", Dedup.dedupClustersStars(pairs(4)),
      Dedup.dedupClustersStars(pairs(64)))
  }

  test("a lazy round read only by isEmpty keeps its predecessor readable") {
    val s = spark
    import s.implicits._
    // round d holds the single node d; the frontier ends after node 4
    val init = Rounds.truncate(Seq(0L).toDF("n"), eager = true)
    val frames = Rounds.frontier("chain_bfs", init) { seen =>
      seen.last.select(($"n" + 1).as("n")).filter($"n" < 5)
    }
    assert(Rounds.last("chain_bfs") === Some(4))
    val live = spark.sparkContext.getPersistentRDDs.keySet
    frames.foreach { f =>
      f.queryExecution.analyzed match {
        case l: LogicalRDD => assert(live(l.rdd.id), "a partly read round was freed")
        case p => fail(s"round frame is not checkpointed: $p")
      }
    }
    assert(frames.map(_.as[Long].collect().toSeq) ===
      (0L until 5L).map(Seq(_)))
  }

  test("a fixpoint that outruns maxIters fails naming its loop") {
    val s = spark
    import s.implicits._
    val init = Seq(1L).toDF("n")
    val e = intercept[IllegalArgumentException] {
      Rounds.fixpoint("never_converges", init, eager = true, maxIters = 3)(
        identity)((_, next) => next.count() < 0)
    }
    assert(e.getMessage.contains("never_converges did not converge in 3 rounds"))
    assert(Rounds.last("never_converges") === Some(3))
  }
}
