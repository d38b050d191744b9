package graft

import org.apache.spark.sql.functions._

import graft.operators.ConnectedComponents
import graft.queries.{Similarity, Tables}

class ConnectedComponentsSpec extends SparkSpec {

  private def cc(nodes: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    ConnectedComponents.run(nodes.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("a 32-node chain collapses to its minimum (worst case for propagation depth)") {
    val res = cc(0L to 31L, (0L until 31L).map(i => (i, i + 1)))
    assert(res.values.toSet == Set(0L), s"chain must be one component: $res")
  }

  test("components, singletons, duplicate edges, self-loops, reversed edges") {
    val res = cc(
      Seq(1, 2, 3, 4, 5, 6, 7),
      Seq((2, 1), (2, 3), (3, 2), (5, 4), (4, 5), (6, 6)))
    assert(res == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, // {1,2,3}
      4L -> 4L, 5L -> 4L,           // {4,5}
      6L -> 6L, 7L -> 7L))          // self-loop + isolated node
  }

  test("edge endpoints absent from nodes still carry connectivity (and are excluded from output)") {
    // path 5 - 99 - 10 where 99 is not a requested node: the absent
    // intermediate must still connect {5, 10} into one component, and the
    // output must cover exactly the requested nodes
    val res = cc(Seq(5L, 10L), Seq((5L, 99L), (99L, 10L)))
    assert(res == Map(5L -> 5L, 10L -> 5L))
    // a low-id absent neighbor is still the minimum reachable id: the
    // contract is "min id reachable", whether or not that id is in `nodes`
    val res2 = cc(Seq(5L, 10L), Seq((5L, 3L), (3L, 10L)))
    assert(res2 == Map(5L -> 3L, 10L -> 3L))
  }

  test("reliable-snap flag: CC runs its loop through checkpoint files, identical labels") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-rel-ckpt").toString
    val session = org.apache.spark.sql.graft.shims.cloneSession(spark)
    session.conf.set(org.apache.spark.sql.graft.shims.ReliableSnapKey, "true")
    session.conf.set(org.apache.spark.sql.graft.shims.SnapDirKey, dir)
    val nodes = session.range(0, 32).select(col("id"))
    val edgesIn = session.createDataFrame((0L until 31L).map(i => (i, i + 1)))
      .toDF("src", "dst")
    val got = ConnectedComponents.run(nodes, edgesIn)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L), s"chain must fold identically under reliable snaps: $got")
    // the loop actually went through the reliable path: checkpoint files landed
    def anyFile(f: java.io.File): Boolean =
      f.isFile || Option(f.listFiles).getOrElse(Array.empty).exists(anyFile)
    assert(anyFile(new java.io.File(dir)),
      s"reliable mode must write checkpoint files under $dir")
  }

  test("star with a high-id center still labels every leaf with the min leaf") {
    // center 100 connected to leaves 1..20: min must flow leaf→center→leaves
    val res = cc(Seq(100L) ++ (1L to 20L), (1L to 20L).map(l => (100L, l)))
    assert(res.values.toSet == Set(1L))
  }

  test("matches a union-find reference exactly on the real near-dup graph") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = Similarity.blockedNearDupPairs(e, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val ids = e.select("vec_id").collect().map(_.getLong(0))
    // reference: classic union-find with path compression (test-only —
    // the operator under test must never collect the graph)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = ids.map(i => i -> find(i)).toMap

    import spark.implicits._
    val got = ConnectedComponents.run(
      e.select(col("vec_id").as("id")),
      pairs.toSeq.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("labels are edge-consistent on the real near-dup graph (q55 machinery)") {
    val e = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val pairs = Similarity.blockedNearDupPairs(e, threshold = 0.4)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val comp = ConnectedComponents.run(e.select(col("vec_id").as("id")), pairs)
    // every edge's endpoints share a component, and each component is
    // labeled by its own minimum member
    val inconsistent = pairs
      .join(comp.withColumnRenamed("id", "src").withColumnRenamed("component", "ca"), "src")
      .join(comp.withColumnRenamed("id", "dst").withColumnRenamed("component", "cb"), "dst")
      .filter(col("ca") =!= col("cb"))
    assert(inconsistent.isEmpty, "near-dup pair endpoints must share a cluster")
    val badLabel = comp.groupBy("component").agg(min("id").as("mn"))
      .filter(col("component") =!= col("mn"))
    assert(badLabel.isEmpty, "every cluster must be labeled by its minimum member")
  }

  test("a caller's localCheckpointed edge frame survives CC: a second run gets equal labels") {
    import spark.implicits._
    val nodes = (0L to 9L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L)).toDF("src", "dst")
      .localCheckpoint()
    def labels() = ConnectedComponents.run(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val first = labels()
    assert(first == labels(), "the second run over the same frame must agree")
    assert(edges.count() == 4, "the caller's checkpoint blocks must stay readable")
  }
}
