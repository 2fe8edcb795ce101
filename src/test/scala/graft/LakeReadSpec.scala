package graft

import graft.operators.{Similarity, TempDirs}
import graft.sources.{BucketedLake, ParquetRead}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.{array, col, struct}
import org.apache.spark.sql.types.MetadataBuilder
import scala.jdk.CollectionConverters._

/** Lake and index reads take their parquet schema from one footer read
  * on the driver ([[ParquetRead]]): the schema must be exactly the one
  * Spark's inference derives (nullability and metadata included), the
  * frames must build without a Spark job, and what the footer route
  * cannot read must fail as inference fails.
  */
class LakeReadSpec extends GraftSuite {
  import spark.implicits._

  private val lakes = Seq(sf0001, sf001, "/root/testdata/sf0.1")

  /** The footer route resolves `paths` (no fallback to inference), and
    * its frame has inference's schema. */
  private def sameSchema(paths: String*): Unit = {
    assert(ParquetRead.schemaOf(spark, paths).isDefined, s"$paths fell back to inference")
    assert(ParquetRead.read(spark, paths: _*).schema == spark.read.parquet(paths: _*).schema,
      s"$paths")
  }

  private def indexDirs(idx: String): Seq[String] =
    Seq("centroids", "bounds", "codes").map(d => s"$idx/$d")

  test("derived schema equals inference for every lake table at sf0.001, sf0.01 and sf0.1") {
    for (lake <- lakes; name <- Tables(spark, lake).names)
      sameSchema(s"$lake/$name.parquet")
  }

  test("derived schema equals inference for Spark-written parquet") {
    val ev = TempDirs.fresh("graft_lakeread_spec")
    // TIMESTAMP(MICROS) as Spark writes it, UTC-adjusted and naive
    Tables(spark, sf0001).events.write.mode("overwrite").parquet(s"$ev/utc")
    Tables(spark, sf0001).events.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.mode("overwrite").parquet(s"$ev/ntz")
    sameSchema(s"$ev/utc")
    sameSchema(s"$ev/ntz")
    // many part files, nested types and column metadata (kept in the
    // Spark row-metadata schema); also read as an explicit file list
    val parts = TempDirs.fresh("graft_lakeread_spec")
    spark.range(0, 1000, 1, 8)
      .select(col("id").as("id", new MetadataBuilder().putString("comment", "key").build()),
        col("id").cast("string").as("s"),
        struct(col("id").as("a"), array(col("id")).as("b")).as("nested"))
      .write.mode("overwrite").parquet(parts)
    sameSchema(parts)
    val files = new java.io.File(parts).listFiles().map(_.getPath).filter(_.endsWith(".parquet"))
    assert(files.length == 8)
    sameSchema(files.sorted.reverse.toIndexedSeq: _*)
    val bucketed = TempDirs.fresh("graft_lakeread_spec")
    BucketedLake.write(Tables(spark, sf0001).orders, bucketed, 4, Seq("o_custkey"), Seq("o_orderkey"))
    sameSchema(bucketed)
  }

  test("the footer read is the file inference picks") {
    // two files whose schemas differ: inference reads the first by path
    // string, whatever order the paths are given in
    val root = TempDirs.fresh("graft_lakeread_spec")
    def one(df: org.apache.spark.sql.DataFrame, name: String): String = {
      df.coalesce(1).write.parquet(s"$root/w_$name")
      val part = new java.io.File(s"$root/w_$name").listFiles().find(_.getName.endsWith(".parquet")).get
      val to = new java.io.File(s"$root/flat/$name.parquet")
      to.getParentFile.mkdirs()
      assert(part.renameTo(to))
      to.getPath
    }
    val wide = one(spark.range(3).select(col("id").as("a"), col("id").as("b")), "part-b")
    val narrow = one(spark.range(3).select(col("id").as("a")), "part-a")
    sameSchema(s"$root/flat")
    sameSchema(wide, narrow)
    assert(ParquetRead.read(spark, wide, narrow).columns.toSeq == Seq("a"))
    // a subdirectory that is not a `k=v` partition: Spark's file index
    // skips its files, so only inference can tell the schema
    new java.io.File(s"$root/flat/a_sub").mkdir()
    one(spark.range(3).select(col("id").as("c")), "a_sub/part-0")
    assert(ParquetRead.schemaOf(spark, Seq(s"$root/flat")).isEmpty)
    assert(ParquetRead.read(spark, s"$root/flat").schema ==
      spark.read.parquet(s"$root/flat").schema)
  }

  test("derived schema equals inference for the ANN index after build and after append") {
    val emb = Tables(spark, sf0001).embeddings
    val idx = TempDirs.fresh("graft_lakeread_spec")
    Similarity.ivfSq8IndexBuild(emb.filter($"vec_id" % 5 =!= 0), "vec_id", "embedding", 8, 2, idx)
    indexDirs(idx).foreach(sameSchema(_))
    Similarity.ivfSq8IndexAppend(idx, emb.filter($"vec_id" % 5 === 0), "vec_id", "embedding")
    indexDirs(idx).foreach(sameSchema(_))
    Gates.release(spark, gc = false)
  }

  test("building every lake table and the index frames runs no Spark job") {
    val idx = TempDirs.fresh("graft_lakeread_spec")
    Similarity.ivfSq8IndexBuild(Tables(spark, sf0001).embeddings, "vec_id", "embedding", 8, 2, idx)
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    val built = try {
      sc.setJobGroup("graft-lakeread", "lake loads")
      val frames = try {
        val t = Tables(spark, sf0001)
        t.names.map(t.byName) ++ indexDirs(idx).map(ParquetRead.read(spark, _))
      } finally sc.clearJobGroup()
      sc.setJobGroup("graft-lakeread-sentinel", "sentinel")
      try sc.parallelize(Seq(1)).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("graft-lakeread-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(20)
      frames
    } finally sc.removeSparkListener(listener)
    Gates.release(spark, gc = false)
    assert(built.size == 13)
    assert(groups.contains("graft-lakeread-sentinel"), "listener never saw the sentinel job")
    assert(groups.asScala.count(_ == "graft-lakeread") == 0)
  }

  test("what the footer route cannot read fails exactly as inference does") {
    def sameFailure(paths: String*): Unit = {
      val inferred = intercept[Exception](spark.read.parquet(paths: _*))
      val derived = intercept[Exception](ParquetRead.read(spark, paths: _*))
      assert(derived.getClass == inferred.getClass)
      assert(derived.getMessage == inferred.getMessage)
    }
    val root = TempDirs.fresh("graft_lakeread_spec")
    sameFailure(s"$root/missing.parquet")
    // a directory holding only a hidden marker: no data file to read
    val empty = new java.io.File(root, "empty")
    assert(empty.mkdir() && new java.io.File(empty, "_SUCCESS").createNewFile())
    sameFailure(empty.getPath)
  }
}
