package graft

import org.apache.spark.sql.functions._

import graft.operators.{Blocks, Graphs}

/** PageRank on hand-computable graphs: dangling-mass redistribution,
  * isolated-node teleport rank, and mass conservation. */
class GraphsSpec extends SparkTestBase {
  import spark.implicits._

  test("one iteration with a dangling node matches hand arithmetic") {
    // 1 -> 2, 3 -> 2; node 2 dangles. N=3, d=0.85, uniform start 1/3:
    //   dangling mass = 1/3
    //   r(1) = r(3) = 0.15/3 + 0.85*(0 + (1/3)/3)   = 0.05 + 0.85/9
    //   r(2) =        0.15/3 + 0.85*(2/3 + (1/3)/3) = 0.05 + 0.85*7/9
    val nodes = Seq(1L, 2L, 3L).toDF("id")
    val edges = Seq((1L, 2L), (3L, 2L)).toDF("src", "dst")
    val got = Graphs.pageRank(nodes, "id", edges, "src", "dst", iterations = 1)
      .select(col("id"), round(col("rank"), 9)).as[(Long, Double)]
      .collect().toMap
    assert(got(1L) == 0.144444444 && got(3L) == 0.144444444)
    assert(got(2L) == 0.711111111)
  }

  test("isolated nodes keep teleport + dangling share; mass is conserved") {
    // 4 is isolated (also dangling); 1 <-> 2 cycle keeps its mass flowing
    val nodes = Seq(1L, 2L, 4L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val ranks = Graphs.pageRank(nodes, "id", edges, "src", "dst", iterations = 3)
    val got = ranks.select(col("id"), col("rank")).as[(Long, Double)].collect().toMap
    // isolated node: only teleport + dangling-share terms — strictly the
    // smallest, and the cycle nodes are symmetric
    assert(got(4L) < got(1L) && math.abs(got(1L) - got(2L)) < 1e-12)
    val total = got.values.sum
    assert(math.abs(total - 1.0) < 1e-9, s"mass leaked: $total")
  }

  test("triangleCounts: K4 gives 3 per node; edges canonicalized; loops dropped") {
    // K4 has C(4,3)=4 triangles, each node in exactly 3. Edges arrive
    // directed-both-ways + duplicated + a self-loop + a dangling edge —
    // canonicalization must collapse all of that.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val edges = (k4 ++ Seq((1L, 2L), (3L, 3L), (4L, 9L))).toDF("src", "dst")
    val got = Graphs.triangleCounts(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), s"got $got")
  }

  test("triangleCounts: triangle-free graph is empty; one triangle counts once") {
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    assert(Graphs.triangleCounts(path, "src", "dst").count() == 0)
    // triangle + pendant: pendant node 4 is in no triangle
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("src", "dst")
    val got = Graphs.triangleCounts(tri, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $got")
  }

  test("Blocks.drop releases a checkpoint leaf and refuses any other frame") {
    val cp = spark.range(10).toDF().localCheckpoint()
    val derived = cp.select(col("id") + 1)
    val e = intercept[IllegalArgumentException](Blocks.drop(derived))
    assert(e.getMessage.contains("Project"), e.getMessage)
    intercept[IllegalArgumentException](Blocks.drop(spark.range(3).toDF()))
    Blocks.drop(cp)
  }
}
