package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.CheckpointDirAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** operators.Scratch is the one owner of the engine's Spark storage. */
class ScratchSpec extends SparkTestBase {
  import spark.implicits._

  /** (persisted RDDs, CacheManager entries); the entry count is
    * package-private in Spark, hence the reflective read. */
  private def pinned(): (Int, Int) = {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    (spark.sparkContext.getPersistentRDDs.size,
      cm.getClass.getMethod("numCachedEntries").invoke(cm)
        .asInstanceOf[Int])
  }

  private def files(dir: Path): Seq[Path] =
    Files.walk(dir).iterator.asScala.filter(Files.isRegularFile(_)).toSeq

  test("reliable-checkpoint mode: a scope leaves no persisted RDD, cache " +
      "entry or checkpoint file, and results equal local mode") {
    val docs = sources.Tables.read(spark, sf, "documents")
    val emb = sources.Tables.read(spark, sf, "embeddings")
    Similarity.writeLshIndex(emb.filter($"vec_id" % 5 =!= 0), "vec_id",
      "embedding", "graft_scratch_lsh_idx", nBuckets = 4)
    def rows(df: DataFrame): Set[String] =
      df.collect().map(_.toSeq.mkString("|")).toSet
    // dedup (minhash pairs -> clusters: cut, cache, release loop), LSH
    // (one-shot pairs, and a one-shot probe: batch cache + union-size
    // and truncated-batch cuts) and graph (pageRank's cuts)
    def families(): Seq[Set[String]] = Seq(
      rows(Dedup.dupClusters(Dedup.minhashPairs(docs, "doc_id", "text"))),
      rows(Similarity.lshDupPairs(emb, "vec_id", "embedding", 0.35)),
      rows(Similarity.incrementalLshPairs(emb.filter($"vec_id" % 5 === 0),
        "graft_scratch_lsh_idx", emb, "vec_id", "embedding", -1.0)),
      rows(Graph.pageRank(Graph.bipartiteEdges(
          sources.Tables.read(spark, sf, "lineitem"), "l_partkey",
          "l_suppkey"), "src", "dst", iters = 3)))
    val local = Scratch.scoped(spark)(families())
    val dir = Files.createTempDirectory("graft-scratch-ckpt")
    val before = pinned()
    val reliable = CheckpointDirAccess.withCheckpointDir(
        spark.sparkContext, dir.toString) {
      Scratch.scoped(spark) {
        val out = families()
        assert(files(dir).nonEmpty, "the cuts must write reliable checkpoints")
        out
      }
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
    assert(pinned() == before,
      s"the scope left storage behind: $before -> ${pinned()}")
    assert(files(dir).isEmpty,
      s"checkpoint files left: ${files(dir).take(3).mkString(", ")}")
    assert(local.forall(_.nonEmpty))
    assert(reliable == local, "reliable-checkpoint results diverged")
  }

  test("scoped releases on a throw, and nothing is recorded outside a scope") {
    val df = spark.range(1000).select(($"id" % 7).as("k"))
    val before = pinned()
    val thrown = intercept[IllegalStateException] {
      Scratch.scoped(spark) {
        Scratch.cut(Scratch.cache(df.groupBy("k").count()))
        throw new IllegalStateException("boom")
      }
    }
    assert(thrown.getMessage == "boom")
    assert(pinned() == before)
    // an unscoped cut stays until released; a later scope does not own it
    val loose = Scratch.cut(df.distinct())
    Scratch.scoped(spark)(())
    assert(loose.count() == 7)
    Scratch.release(loose)
    assert(pinned() == before)
  }

  test("storage audit: no engine file but Scratch takes or frees storage") {
    val root = Paths.get("src/main/scala/graft")
    val calls = Seq(".cache()", ".persist(", ".unpersist(",
      "localCheckpoint(", ".checkpoint(", "clearCache()",
      "getPersistentRDDs")
    val offenders = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(p => p.startsWith(root.resolve("tools")) ||
        p.getFileName.toString == "Scratch.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if calls.exists(line.contains) => s"$p:${i + 1}"
        }
      }.toSeq
    assert(Files.isDirectory(root) && offenders.isEmpty,
      s"storage calls outside operators.Scratch: ${offenders.mkString(", ")}")
  }
}
