package graft

import graft.etl.Bundle
import graft.operators.{Dedup, Sessionize, TopK}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Edge-case behavior: operators must degrade gracefully on empty or
  * degenerate inputs (at 100 TB, some partition/table somewhere is
  * always empty).
  */
class RobustnessSpec extends GraftSuite {
  import spark.implicits._

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("queries and oracleSql keys are consistent") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracle without query: ${os -- qs}")
    assert(SparkEntry.allDefs.map(_.name).distinct.size == SparkEntry.allDefs.size,
      "duplicate query names")
  }

  test("dedup operators handle an empty corpus") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    assert(Dedup.exact(empty, "doc_id", md5($"text")).count() == 0)
    assert(Dedup.ngramJaccardPairs(empty, "doc_id", "text", 3, 0.6).count() == 0)
    assert(Dedup.minhashLshPairs(empty, "doc_id", "text", 128, 16, 0.9).count() == 0)
    assert(Dedup.simhashPairs(empty, "doc_id", "text", 6).count() == 0)
  }

  test("round-5 operators handle empty inputs") {
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val someDocs = Seq((1L, "some text here")).toDF("doc_id", "text")
    // empty batch against a real index, and a real batch against an
    // empty index (day one of a pipeline) — both tiers, both plans
    assert(Dedup.incremental(someDocs, emptyDocs, "doc_id", "text").count() == 0)
    val dayOne = Dedup.incremental(emptyDocs, someDocs, "doc_id", "text").collect()
    assert(dayOne.length == 1 && dayOne.head.getString(1) == "new")
    assert(Dedup.incrementalBloom(emptyDocs, someDocs, "doc_id", "text")
      .collect().head.getString(1) == "new")
    // triangles on an empty and on a triangle-free edge set
    val emptyEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("u", LongType), StructField("v", LongType))))
    assert(graft.operators.Triangles.count(emptyEdges, "u", "v")
      .collect().head.getLong(0) == 0)
    // z-order clustering of an empty frame writes no rows but plans fine
    assert(graft.etl.ZOrder.cluster(emptyEdges, $"u", $"v", 4).count() == 0)
    // PQ with fewer vectors than the codebook: seed set is just smaller
    val tiny = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(0.25f)))
      .toDF("vec_id", "embedding")
    val pq = graft.operators.Similarity.annTopK(tiny, tiny, "vec_id", "embedding", 5,
      graft.operators.AnnSpec(graft.operators.AnnSpec.Flat,
        graft.operators.AnnSpec.Pq(numSub = 2, codebook = 8, trainIters = 0), 0)).collect()
    assert(pq.length == 2) // each vector's only neighbor is the other
  }

  test("round-6 operators handle empty inputs") {
    val emptyEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("u", LongType), StructField("v", LongType))))
    val emptyNodes = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("node", LongType))))
    // BFS with no seeds and with no edges settles only what exists
    assert(graft.operators.Bfs.distances(emptyEdges, emptyNodes, 3).count() == 0)
    assert(graft.operators.Bfs.distances(emptyEdges, Seq(1L).toDF("node"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)))
    // k-core of an empty graph is empty
    assert(graft.operators.KCore.peel(emptyEdges, k = 2, rounds = 2).count() == 0)
    // digest of an empty table: count 0, XOR identity (not NULL)
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val dig = graft.etl.TableDigest.digest(emptyDocs, "t", Seq($"doc_id", $"text"))
      .collect().head
    assert(dig.getLong(1) == 0L && dig.getLong(2) == 0L)
    // semantic dedup / kNN join on an empty vector set plan and return 0
    val emptyVecs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
    assert(graft.operators.Dedup.semantic(emptyVecs, "vec_id", "embedding", 0.5).count() == 0)
    assert(graft.operators.Similarity.knnJoin(emptyVecs, "vec_id", "embedding", 3).count() == 0)
    // weighted sampling of an empty frame
    assert(graft.operators.Sample.weighted(emptyDocs, "doc_id", lit(0.5)).count() == 0)
  }

  test("round-6 wave-2/3 operators handle empty inputs") {
    val emptyEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("u", LongType), StructField("v", LongType))))
    // neighbor jaccard over no edges: no pairs, no crash
    assert(graft.operators.NeighborJaccard
      .pairs(emptyEdges, "u", "v", minCommon = 1).count() == 0)
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    // containment over an empty corpus: no candidate pairs
    assert(graft.operators.Dedup
      .containmentPairs(emptyDocs, "doc_id", "text", n = 3, tau = 0.8).count() == 0)
    // one-doc corpus: no pair to report
    assert(graft.operators.Dedup
      .containmentPairs(Seq((1L, "a b c d e")).toDF("doc_id", "text"),
        "doc_id", "text", n = 3, tau = 0.8).count() == 0)
  }

  test("sessionize and topk handle empty input") {
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType), StructField("ts", TimestampType),
        StructField("event_id", LongType))))
    assert(Sessionize(empty, "user_id", "ts", "event_id", 1000L).count() == 0)
    assert(TopK(empty, Seq($"user_id"), Seq($"event_id".desc), 3).count() == 0)
  }

  test("single-doc corpus yields no pairs, one exact survivor") {
    val one = Seq((7L, "only document here")).toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(one, "doc_id", "text", 3, 0.6).count() == 0)
    val survivors = Dedup.exact(one, "doc_id", md5($"text")).collect()
    assert(survivors.map(_.getLong(0)).toSeq == Seq(7L))
  }

  test("schema evolution: mergeSchema unions old and new file schemas") {
    val dir = Files.createTempDirectory("graft_evolve").toString + "/t"
    Seq((1L, "x")).toDF("id", "a").write.parquet(s"$dir/v=1")
    Seq((2L, "y", 9.5)).toDF("id", "a", "b").write.parquet(s"$dir/v=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet == Set("id", "a", "b", "v"))
    val rows = merged.orderBy($"id").collect()
    assert(rows.length == 2 && rows(0).isNullAt(rows(0).fieldIndex("b")))
  }

  test("compaction: sorted write produces the target file count, clustered") {
    val dir = Files.createTempDirectory("graft_compact").toString + "/li"
    graft.etl.Compact.sortedWrite(
      Tables(spark, sf0001).lineitem, dir, numFiles = 2, $"l_shipdate")
    val files = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 2)
    val back = spark.read.parquet(dir)
    assert(back.count() == Tables(spark, sf0001).lineitem.count())
  }

  test("bundle export writes normalized CSVs + manifest for all tables") {
    val out = Files.createTempDirectory("graft_bundle").toString + "/bundle"
    val t = Tables(spark, sf0001)
    Bundle.write(t, Seq("region", "nation"), out)
    val region = spark.read.option("header", "true").csv(s"$out/region")
    assert(region.count() == 5)
    val manifest = spark.read.json(s"$out/manifest")
    assert(manifest.count() == 2 &&
      manifest.columns.toSet == Set("table_name", "n_rows", "n_cols"))
  }
}
