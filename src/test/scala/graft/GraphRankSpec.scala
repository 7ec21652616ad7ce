package graft

import graft.operators.GraphRank

/** Integer-scaled PageRank: hand-computed fixpoint steps, determinism
  * under repartitioning, dangling behavior. */
class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  test("two iterations match the hand-computed integer lineage") {
    // 1→2, 1→3, 2→3, 3→1; deg 1:2, 2:1, 3:1; mass e6, damping 85/100
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    val r = GraphRank.pageRank(edges, "src", "dst", iterations = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // iter1: r1=(15e6+85·1e6)/100=1e6; r2=(15e6+85·5e5)/100=575000;
    //        r3=(15e6+85·15e5)/100=1425000
    // iter2: r1=(15e6+85·1425000)/100=1361250; r2=575000;
    //        r3=(15e6+85·(500000+575000))/100=1063750
    assert(r == Map(1L -> 1361250L, 2L -> 575000L, 3L -> 1063750L))
    graft.Caches.unpersistAll()
  }

  test("dangling sink keeps collecting mass; source decays to base") {
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val r = GraphRank.pageRank(edges, "src", "dst", iterations = 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // r1 = (15e6 + 0) div 100 = 150000 (nothing points at 1)
    // r2 = (15e6 + 85·1e6) div 100 = 1000000
    assert(r == Map(1L -> 150000L, 2L -> 1000000L))
    graft.Caches.unpersistAll()
  }

  test("ranks are partitioning-independent") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 1L))
      .toDF("src", "dst")
    val a = GraphRank.pageRank(edges, "src", "dst", iterations = 4).rowsSet
    val b = GraphRank.pageRank(edges.repartition(7), "src", "dst",
      iterations = 4).rowsSet
    assert(a == b)
    graft.Caches.unpersistAll()
  }

  test("olsTrend: exact e6 slope/intercept, signed, null on flat x") {
    import org.apache.spark.sql.functions.{col, expr}
    val df = Seq(
      ("up", 0L, 0L), ("up", 1L, 2L), ("up", 2L, 4L),
      ("dn", 0L, 4L), ("dn", 1L, 2L), ("dn", 2L, 0L),
      ("half", 0L, 0L), ("half", 1L, 1L), ("half", 2L, 1L),
      ("flat", 5L, 1L), ("flat", 5L, 9L)
    ).toDF("g", "x", "y")
    val out = graft.operators.GroupStats
      .olsTrend(df, Seq("g"), col("x"), col("y"))
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))))
      .toMap
    assert(out("up") == Some((2000000L, 0L)))
    assert(out("dn") == Some((-2000000L, 4000000L)))
    // n=3 sx=3 sy=2 sxx=5 sxy=3: slope 3/6=0.5, intercept (2·6−3·3)/18=1/6
    assert(out("half") == Some((500000L, 166667L)))
    assert(out("flat") == None)
  }

  test("label propagation: clamped seeds, tie to lowest label, 2 hops") {
    val nodes = Seq((1L, Some(10L)), (2L, None), (3L, None), (4L, None),
      (5L, Some(20L))).toDF("node", "label")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L))
      .toDF("id_a", "id_b")
    val out = graft.operators.LabelProp
      .propagate(nodes, "node", "label", edges, "id_a", "id_b",
        iterations = 2)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    // node 2 ties 10-vs-20 -> lowest label wins; node 3 labels on round
    // 2 via node 2; node 4 is 3 hops out -> still unlabeled
    assert(out == Map(1L -> Some(10L), 2L -> Some(10L), 3L -> Some(10L),
      4L -> None, 5L -> Some(20L)))
    graft.Caches.unpersistAll()
  }

  test("linkPrediction maxCenterDegree drops the hub's wedges only; " +
    "reported degrees stay true") {
    // hub 0 (degree 3), spokes 1/2/3; 1-2 closes a triangle; 3-4 tail
    val e = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (3L, 4L))
      .toDF("a", "b")
    def rows(cap: Int) = graft.operators.GraphRank
      .linkPrediction(e, "a", "b", maxCenterDegree = cap)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val uncapped = rows(0)
    assert(uncapped == Map(
      (1L, 3L) -> ((1L, 2L, 2L, 333333L)),   // via center 0
      (2L, 3L) -> ((1L, 2L, 2L, 333333L)),   // via center 0
      (0L, 4L) -> ((1L, 3L, 1L, 333333L)))) // via center 3
    // cap 2 excludes center 0 (degree 3): its wedge candidates vanish;
    // (0,4) survives (center 3 has degree 2) and 0's REPORTED degree
    // is still the true 3
    val capped = rows(2)
    assert(capped == Map((0L, 4L) -> ((1L, 3L, 1L, 333333L))))
    graft.Caches.unpersistAll()
  }

  test("hits leaves as many caches registered at iterations = 4 as at " +
    "1: each half-step's raw in-mass is released with its round") {
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
      .toDF("src", "dst")
    def cachesAfter(iterations: Int): Int = {
      graft.Caches.unpersistAll()
      GraphRank.hits(edges, "src", "dst", iterations).collect()
      graft.Caches.registered
    }
    val one = cachesAfter(1)
    val four = cachesAfter(4)
    graft.Caches.unpersistAll()
    assert(one == four,
      s"hits left $one caches at iterations = 1 and $four at 4")
  }
}
