package vps.joins

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import vps.SparkTestSession
import vps.docs.InterleavedDocs
import vps.sql.functions._

class SpatialJoinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val points = {
    val docs = InterleavedDocs.fromDocuments(spark, "/root/testdata/sf0.001")
    InterleavedDocs.extractGeoSpans(docs)
      .select($"id" * 10 + $"span_offset" as "id", $"geom")
      .cache()
  }

  // 40 deterministic boxes + 1 triangle (non-rectangular case)
  private lazy val polygons = {
    val boxes = (0 until 40).map { i =>
      val lon = (i * 97 % 340) - 170.0
      val lat = (i * 61 % 150) - 75.0
      (i.toLong, s"POLYGON (($lon $lat, ${lon + 15} $lat, ${lon + 15} ${lat + 12}, $lon ${lat + 12}, $lon $lat))")
    }
    val tri = Seq((100L, "POLYGON ((-50 -50, 50 -45, 0 60, -50 -50))"))
    (boxes ++ tri).toDF("poly_id", "wkt")
      .select($"poly_id", st_geomFromWKT($"wkt").as("geom"))
      .cache()
  }

  private def bruteForcePip(): Set[(Long, Long)] = {
    val pts = points.select($"id", st_x($"geom"), st_y($"geom")).as[(Long, Double, Double)].collect()
    val polys = polygons.select($"poly_id", st_asWKB($"geom")).as[(Long, Array[Byte])].collect()
      .map { case (id, wkb) => (id, vps.geom.Wkb.read(wkb)) }
    (for {
      (pid, x, y) <- pts
      (gid, g) <- polys
      if g.intersects(vps.geom.Geo.point(x, y))
    } yield (pid, gid)).toSet
  }

  test("pipBroadcast matches brute force") {
    val got = SpatialJoins.pipBroadcast(points, polygons)
      .select($"id", $"poly_id").as[(Long, Long)].collect().toSet
    assert(got === bruteForcePip())
    assert(got.nonEmpty)
  }

  private def withNullPoint = points.unionByName(
    Seq(-1L).toDF("id").select($"id", lit(null).cast(points.schema("geom").dataType).as("geom")))

  test("pipBroadcastIds matches brute force and drops a point without geometry") {
    val got = SpatialJoins.pipBroadcastIds(withNullPoint, polygons).as[(Long, Long)].collect()
    assert(got.toSet === bruteForcePip())
    assert(got.length === got.toSet.size)
    assert(!got.exists(_._1 == -1L))
  }

  test("broadcast joins emit one row per containing polygon row, also when two rows share a poly_id") {
    val pts = Seq((1L, 5.0, 5.0), (2L, 55.0, 55.0), (3L, -100.0, 0.0)).toDF("id", "lon", "lat")
      .select($"id", st_point($"lon", $"lat").as("geom"))
    val polys = Seq(
      (0L, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      (0L, "POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))"),
      (1L, "POLYGON ((50 50, 60 50, 60 60, 50 60, 50 50))"))
      .toDF("poly_id", "wkt")
      .select($"poly_id", st_geomFromWKT($"wkt").as("geom"))
    val want = Seq((1L, 0L), (1L, 0L), (2L, 1L))
    val rows = SpatialJoins.pipBroadcast(pts, polys)
    assert(rows.columns.toSeq === Seq("id", "geom", "poly_id"))
    assert(rows.select($"id", $"poly_id").as[(Long, Long)].collect().sorted.toSeq === want)
    assert(SpatialJoins.pipBroadcastIds(pts, polys).as[(Long, Long)].collect().sorted.toSeq === want)
  }

  test("pipCellJoin matches brute force at multiple levels") {
    Seq(4, 7).foreach { level =>
      val got = SpatialJoins.pipCellJoin(points, polygons, level)
        .select($"id", $"poly_id").as[(Long, Long)].collect().toSet
      assert(got === bruteForcePip(), s"level=$level")
    }
  }

  test("pipCellJoin computes each point's cell once and drops points without geometry") {
    val joined = SpatialJoins.pipCellJoin(withNullPoint, polygons, 7)
    assert(joined.select($"id", $"poly_id").as[(Long, Long)].collect().toSet === bruteForcePip())
    val plan = joined.queryExecution.executedPlan.toString
    assert("CellId.fromLonLat".r.findAllMatchIn(plan).size === 1, plan)
  }

  test("keyed prepared-geometry cache cannot leak across queries reusing ids") {
    // two sequential cell joins bind poly_id=0 to DIFFERENT geometries; the
    // keyed cache is expression-instance state, so the second query must see
    // its own polygon, not a stale entry
    val pts = Seq((1L, 5.0, 5.0), (2L, 55.0, 55.0)).toDF("id", "lon", "lat")
      .select($"id", st_point($"lon", $"lat").as("geom"))
    def joinWith(wkt: String): Set[Long] = {
      val polys = Seq((0L, wkt)).toDF("poly_id", "wkt")
        .select($"poly_id", st_geomFromWKT($"wkt").as("geom"))
      SpatialJoins.pipCellJoin(pts, polys, level = 3)
        .select($"id").as[Long].collect().toSet
    }
    assert(joinWith("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))") === Set(1L))
    assert(joinWith("POLYGON ((50 50, 60 50, 60 60, 50 60, 50 50))") === Set(2L))
  }

  test("keyed cache survives duplicate ids bound to different geometries (multipart rows)") {
    // a multipart region stored as TWO rows under poly_id=0: a blind id-keyed
    // cache would evaluate the second part against the first part's prepared
    // geometry and lose point 2; the per-hit full-WKB verify must re-prepare
    // instead
    val pts = Seq((1L, 5.0, 5.0), (2L, 55.0, 55.0), (3L, -170.0, -70.0))
      .toDF("id", "lon", "lat")
      .select($"id", st_point($"lon", $"lat").as("geom"))
    val polys = Seq(
      (0L, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      (0L, "POLYGON ((50 50, 60 50, 60 60, 50 60, 50 50))"))
      .toDF("poly_id", "wkt")
      .select($"poly_id", st_geomFromWKT($"wkt").as("geom"))
    val got = SpatialJoins.pipCellJoin(pts.coalesce(1), polys, level = 3)
      .select($"id").as[Long].collect().toSet
    assert(got === Set(1L, 2L), s"duplicate-id parts must both match: $got")
  }

  test("keyed cache guard defeats head/tail collisions: same-latitude gridded parts under one id") {
    // adversarial pair for a weak (length + first/last-8-byte) discriminator:
    // both parts are axis-aligned single-ring boxes with the SAME vertex count,
    // the same near-constant WKB header, and the same closing-vertex latitude
    // (y rides the last 8 bytes) — only a full-bytes verify tells them apart
    val pts = Seq((1L, 5.0, 5.0), (2L, 55.0, 5.0)).toDF("id", "lon", "lat")
      .select($"id", st_point($"lon", $"lat").as("geom"))
    val polys = Seq(
      (0L, "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      (0L, "POLYGON ((50 0, 60 0, 60 10, 50 10, 50 0))"))
      .toDF("poly_id", "wkt")
      .select($"poly_id", st_geomFromWKT($"wkt").as("geom"))
    val got = SpatialJoins.pipCellJoin(pts.coalesce(1), polys, level = 3)
      .select($"id").as[Long].collect().toSet
    assert(got === Set(1L, 2L), s"same-latitude duplicate-id parts must both match: $got")
  }

  test("pipCellJoin with non-numeric poly ids falls back to the content-hash refine") {
    val pts = Seq((1L, 5.0, 5.0), (2L, 55.0, 55.0)).toDF("id", "lon", "lat")
      .select($"id", st_point($"lon", $"lat").as("geom"))
    val polys = Seq(("US", "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"),
      ("CA", "POLYGON ((50 50, 60 50, 60 60, 50 60, 50 50))"))
      .toDF("poly_id", "wkt")
      .select($"poly_id", st_geomFromWKT($"wkt").as("geom"))
    val got = SpatialJoins.pipCellJoin(pts, polys, level = 3)
      .select($"id", $"poly_id").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "US"), (2L, "CA")))
  }

  test("knnBroadcast matches brute-force top-k") {
    val queries = Seq((0L, 10.0, 20.0), (1L, -120.0, -60.0), (2L, 179.0, 79.0))
      .toDF("query_id", "lon", "lat")
      .select($"query_id", st_point($"lon", $"lat").as("geom"))
    val k = 7
    val got = SpatialJoins.knnBroadcast(points, queries, k)
      .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap

    val pts = points.select($"id", st_x($"geom"), st_y($"geom")).as[(Long, Double, Double)].collect()
    val qs = Seq((0L, 10.0, 20.0), (1L, -120.0, -60.0), (2L, 179.0, 79.0))
    qs.foreach { case (qid, qx, qy) =>
      val expected = pts.map { case (pid, x, y) =>
        (math.sqrt((x - qx) * (x - qx) + (y - qy) * (y - qy)), pid)
      }.sortBy(identity).take(k).map(_._2).toSeq
      assert(got(qid) === expected, s"query $qid")
    }
  }

  test("knnCellJoin with generous ring matches exact kNN") {
    val queries = Seq((0L, 10.0, 20.0)).toDF("query_id", "lon", "lat")
      .select($"query_id", st_point($"lon", $"lat").as("geom"))
    // level 3 cells are 45 deg wide; ring 3 covers far beyond the 5-NN radius here
    val cellBased = SpatialJoins.knnCellJoin(points, queries, k = 5, level = 3, ring = 3)
      .select($"neighbor_id", $"rank").as[(Long, Int)].collect().sortBy(_._2).map(_._1).toSeq
    val exact = SpatialJoins.knnBroadcast(points, queries, 5)
      .select($"neighbor_id", $"rank").as[(Long, Int)].collect().sortBy(_._2).map(_._1).toSeq
    assert(cellBased === exact)
  }

  test("asofLatestJoin picks the most recent right row per key") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 25L), (3L, 200L, 10L)).toDF("lid", "k", "t")
    val right = Seq((100L, 5L, "a"), (100L, 20L, "b"), (100L, 30L, "c"), (200L, 50L, "z"))
      .toDF("k", "rt", "v")
    val got = SpatialJoins.asofLatestJoin(left, right, Seq("k"), "t", "rt", "lid")
      .select($"lid", $"v").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "a", 2L -> "b")) // lid=3: no right row <= 10 for key 200
  }

  test("asofLatestAgg matches asofLatestJoin and breaks time ties to the smallest id") {
    val left = Seq((1L, 100L, 10L), (2L, 100L, 25L), (3L, 200L, 10L)).toDF("lid", "k", "t")
    // key 100 has two rows at rt=20 (ids 7 and 4): tie must resolve to id 4
    val right = Seq((100L, 5L, 9L), (100L, 20L, 7L), (100L, 20L, 4L), (100L, 30L, 1L),
      (200L, 50L, 2L)).toDF("k", "rt", "rid")
    val agg = SpatialJoins.asofLatestAgg(left, right, Seq("k"), "t", "rt", "lid", "rid", Seq("rid"))
      .as[(Long, Long)].collect().toMap
    assert(agg === Map(1L -> 9L, 2L -> 4L)) // lid=3: no right row <= 10 for key 200
    // tie-free input: both forms must agree row-for-row
    val rightNoTie = right.where($"rid" =!= 4L)
    val aggNt = SpatialJoins.asofLatestAgg(left, rightNoTie, Seq("k"), "t", "rt", "lid", "rid", Seq("rid"))
      .as[(Long, Long)].collect().toMap
    val winNt = SpatialJoins.asofLatestJoin(left, rightNoTie, Seq("k"), "t", "rt", "lid")
      .select($"lid", $"rid").as[(Long, Long)].collect().toMap
    assert(aggNt === winNt)
  }

  test("asofRangeJoin honors [validFrom, validUntil) with null = open") {
    val left = Seq((1L, 7L, 15L), (2L, 7L, 100L)).toDF("lid", "k", "t")
    val right = Seq((7L, 10L, Some(20L), "in-window"), (7L, 50L, None, "open"))
      .toDF("k", "from", "until", "tag")
    val got = SpatialJoins.asofRangeJoin(left, right, Seq("k"), col("t"), col("from"), col("until"))
      .select($"lid", $"tag").as[(Long, String)].collect().toSet
    assert(got === Set((1L, "in-window"), (2L, "open")))
  }

  test("knnCellJoinExact equals brute force even with an insufficient ring") {
    val queries = Seq((0L, 10.0, 20.0), (1L, -120.0, -60.0), (2L, 179.5, 0.0), (3L, 0.0, 79.5))
      .toDF("query_id", "lon", "lat")
      .select($"query_id", st_point($"lon", $"lat").as("geom"))
    Seq((8, 1), (6, 1), (3, 2)).foreach { case (level, ring) =>
      val got = SpatialJoins.knnCellJoinExact(points, queries, k = 5, level = level, initialRing = ring)
        .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      val exact = SpatialJoins.knnBroadcast(points, queries, 5)
        .select($"query_id", $"neighbor_id", $"rank").as[(Long, Long, Int)].collect()
        .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
      assert(got === exact, s"level=$level ring=$ring")
    }
  }
}
