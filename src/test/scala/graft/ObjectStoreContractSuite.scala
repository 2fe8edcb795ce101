package graft

import graft.etl.{Bundle, CommitLog, Validation, Wap}
import org.apache.spark.sql.functions._

/** The commit-protocol contract, parameterized over an object-store
  * FileSystem fixture: every test runs against a store whose rename is
  * copy+delete+overwrite and whose `create(p, overwrite=false)` is NOT
  * exclusive — so green means the protocol leans on neither rename
  * atomicity nor create exclusivity, only on the store's conditional
  * write. Two concrete fixtures run it:
  *
  *  - [[ObjectStoreSpec]] — `s3sim://`, a store exposing its
  *    conditional write DIRECTLY as [[graft.etl.AtomicPut]];
  *  - [[CondCreateObjectStoreSpec]] — `ccsim://`, the S3A-shaped
  *    public surface (no AtomicPut; Hadoop 3.4.x conditional create
  *    advertised via path capability), reached through the
  *    [[graft.etl.ConditionalCreateAtomicPut]] adapter.
  */
abstract class ObjectStoreContractSuite extends GraftSuite {
  import spark.implicits._

  /** URI scheme of the store under test (registered by the subclass
    * constructor before any test body runs).
    */
  def schemeName: String

  /** How many CONDITIONAL claims the store has arbitrated — asserts
    * pin that commits went through the conditional-write path, since
    * this store has no other exclusive primitive.
    */
  def claimCount(): Int

  protected def tmpUri(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    s"$schemeName://" + d.getAbsolutePath
  }

  protected def hfs(uri: String) = new org.apache.hadoop.fs.Path(uri)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("commit log lifecycle on the object store: append, overwrite, time travel, compact, vacuum") {
    val t = tmpUri(s"graft_${schemeName}_log") + "/t"
    val before = claimCount()
    val v0 = CommitLog.write(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"), t, overwrite = false)
    val v1 = CommitLog.write(spark, Seq((3L, "c")).toDF("id", "v"), t, overwrite = false)
    val v2 = CommitLog.write(spark, Seq((9L, "z")).toDF("id", "v"), t, overwrite = true)
    assert((v0, v1, v2) === ((0L, 1L, 2L)))
    def ids(v: Long): Set[Long] =
      CommitLog.snapshot(spark, t, Some(v)).select("id").as[Long].collect().toSet
    assert(ids(0L) === Set(1L, 2L) && ids(1L) === Set(1L, 2L, 3L) && ids(2L) === Set(9L))
    // the claims went through the conditional-write path, not
    // create-exclusive (which this store does not have)
    assert(claimCount() >= before + 3)
    val vC = CommitLog.compact(spark, t)
    assert(CommitLog.snapshot(spark, t).select("id").as[Long].collect().toSet === Set(9L))
    val deleted = CommitLog.vacuum(spark, t, keepVersions = 2)
    assert(deleted.nonEmpty)
    // retained versions still read intact
    assert(CommitLog.snapshot(spark, t, Some(vC)).select("id").as[Long].collect().toSet === Set(9L))
  }

  test("concurrent writers racing one version: exactly one claim wins, retries make both land") {
    val t = tmpUri(s"graft_${schemeName}_race") + "/t"
    CommitLog.write(spark, Seq((0L, "seed")).toDF("id", "v"), t, overwrite = false)
    // deterministic same-version contention: stage both batches first,
    // then release both commits through a barrier with NO retries —
    // both compute next version 1, the conditional write arbitrates
    val s1 = CommitLog.stageData(spark, Seq((1L, "a")).toDF("id", "v"), t)
    val s2 = CommitLog.stageData(spark, Seq((2L, "b")).toDF("id", "v"), t)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val results = new java.util.concurrent.ConcurrentHashMap[String, Either[Throwable, Long]]()
    val threads = Seq("w1" -> s1, "w2" -> s2).map { case (name, staged) =>
      new Thread(() => {
        barrier.await()
        val r = try Right(CommitLog.commitStaged(spark, t, staged, overwrite = false, maxRetries = 0))
                catch { case e: Throwable => Left(e) }
        results.put(name, r)
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val (losses, wins) = Seq(results.get("w1"), results.get("w2")).partition(_.isLeft)
    assert(wins.size === 1 && losses.size === 1)
    assert(losses.head.swap.toOption.get.isInstanceOf[CommitLog.VersionRace])
    assert(wins.head.toOption.get === 1L)
    // loser's staged batch was cleaned: directory invariant holds
    val loserStaged = if (results.get("w1").isLeft) s1 else s2
    val f = hfs(t)
    assert(loserStaged.forall(n => !f.exists(new org.apache.hadoop.fs.Path(s"$t/$n"))))
    // snapshot reflects seed + winner only, versions dense
    assert(CommitLog.versions(spark, t) === Seq(0L, 1L))
    assert(CommitLog.snapshot(spark, t).count() === 2L)
    // now the same race WITH retries: both writers land on distinct versions
    val s3 = CommitLog.stageData(spark, Seq((3L, "c")).toDF("id", "v"), t)
    val s4 = CommitLog.stageData(spark, Seq((4L, "d")).toDF("id", "v"), t)
    val barrier2 = new java.util.concurrent.CyclicBarrier(2)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val threads2 = Seq(s3, s4).map { staged =>
      new Thread(() => {
        barrier2.await()
        got.add(CommitLog.commitStaged(spark, t, staged, overwrite = false, maxRetries = 5))
      })
    }
    threads2.foreach(_.start()); threads2.foreach(_.join())
    assert(got.size === 2)
    import scala.jdk.CollectionConverters._
    assert(got.asScala.toSet === Set(2L, 3L))
    // snapshot = seed + round-1 winner (loser's batch was cleaned) + both retried writers
    val round1WinnerId = if (results.get("w1").isRight) 1L else 2L
    assert(CommitLog.snapshot(spark, t).select("id").as[Long].collect().toSet ===
      Set(0L, round1WinnerId, 3L, 4L))
  }

  test("Wap refuses the rename swap on an object store and publishes via the commit log instead") {
    val root = tmpUri(s"graft_${schemeName}_wap")
    val rules = Seq(
      Validation.Rule("null_name", col("name").isNull),
      Validation.Rule("neg_value", col("value") < 0))
    val good = Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "value")
    val ex = intercept[IllegalArgumentException] {
      Wap.publish(spark, good, root, "t", rules, d => Seq(d("id")))
    }
    assert(ex.getMessage.contains("publishVersioned"))
    // versioned publish: stage+audit+pointer-claim, no rename anywhere
    val t = s"$root/t"
    val r1 = Wap.publishVersioned(spark, good, t, rules, d => Seq(d("id"), d("name"), d("value")))
    assert(r1.published && r1.nRows === 2L && r1.version === 0L)
    assert(CommitLog.snapshot(spark, t).count() === 2L)
    // failed audit: nothing published, prior version still serves, the
    // rejected batch is invisible to snapshot readers
    val bad = Seq((3L, "c", -5L)).toDF("id", "name", "value")
    val r2 = Wap.publishVersioned(spark, bad, t, rules, d => Seq(d("id")))
    assert(!r2.published && r2.nViolations === 1L)
    assert(CommitLog.versions(spark, t) === Seq(0L))
    assert(CommitLog.snapshot(spark, t).select("id").as[Long].collect().toSet === Set(1L, 2L))
    // a clean republish lands as the next version; time travel keeps v0
    val r3 = Wap.publishVersioned(spark, Seq((9L, "z", 1L)).toDF("id", "name", "value"),
      t, rules, d => Seq(d("id")))
    assert(r3.published && r3.version === 1L)
    assert(CommitLog.snapshot(spark, t).select("id").as[Long].collect().toSet === Set(9L))
    assert(CommitLog.snapshot(spark, t, Some(0L)).select("id").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("bundle export lands on the object store") {
    val out = tmpUri(s"graft_${schemeName}_bundle") + "/bundle"
    val t = Tables(spark, sf0001)
    Bundle.write(t, Seq("region", "nation"), out)
    val region = spark.read.option("header", "true").csv(s"$out/region")
    assert(region.count() === 5)
    val manifest = spark.read.json(s"$out/manifest")
    assert(manifest.count() === 2)
  }
}
