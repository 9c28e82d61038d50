package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.DataFrame
import graft.operators.{GeoMath, GeoProjection}

class GeoProjectionSpec extends SpecBase {

  test("forward/inverse TM round-trips to sub-millimeter over Israel's extent") {
    val pts = Seq((31.0, 34.5), (32.5, 35.2), (33.2, 35.6), (29.6, 34.9), (31.734394, 35.204517))
    for ((lat, lon) <- pts) {
      val (e, n) = GeoMath.forward(lat, lon)
      val (lat2, lon2) = GeoMath.inverse(e, n)
      assert(math.abs(lat2 - lat) < 1e-9, s"lat roundtrip $lat -> $lat2")
      assert(math.abs(lon2 - lon) < 1e-9, s"lon roundtrip $lon -> $lon2")
    }
  }

  test("the ITM false origin maps to the published natural origin") {
    val (lat, lon) = GeoMath.inverse(219529.584, 626907.390)
    assert(math.abs(lat - (31.0 + 44.0 / 60 + 3.817 / 3600)) < 1e-9)
    assert(math.abs(lon - (35.0 + 12.0 / 60 + 16.261 / 3600)) < 1e-9)
  }

  test("datum shift moves coordinates by the expected ~1-2 arc-seconds") {
    val Array(lon, lat) = GeoMath.itmToWgs84(219529.584, 626907.390)
    val dLat = lat - (31.0 + 44.0 / 60 + 3.817 / 3600)
    val dLon = lon - (35.0 + 12.0 / 60 + 16.261 / 3600)
    // ~50m shift at most, but not zero
    assert(math.abs(dLat) < 0.001 && math.abs(dLon) < 0.001)
    assert(math.abs(dLat) > 1e-5 || math.abs(dLon) > 1e-5)
  }

  test("tel aviv area ITM coordinates land in the right WGS84 neighborhood") {
    // Approximate landmark anchor (coarse public pairing, ~km tolerance —
    // the exact checks above are the round-trip and the published origin).
    val Array(lon, lat) = GeoMath.itmToWgs84(179254.0, 664694.0)
    assert(math.abs(lat - 32.074) < 0.03, s"lat $lat")
    assert(math.abs(lon - 34.792) < 0.03, s"lon $lon")
  }

  test("withWgs84 projects a DataFrame column pair distributedly") {
    import spark.implicits._
    val rows = Seq[(Long, Option[Double], Option[Double])](
      (1L, Some(179254.0), Some(664694.0)), (2L, Some(219529.584), Some(626907.390)),
      (3L, Some(179254.0), Some(664694.0)), (4L, None, Some(664694.0)),
      (5L, Some(179254.0), None))
      .toDF("id", "easting", "northing")
    def project(domain: DataFrame): Map[Long, Seq[Double]] =
      GeoProjection.withWgs84(rows, "easting", "northing", "geometry", domain)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Seq[Double]]("geometry")).toMap
    // GeoMath is the per-row reference; a null coordinate gets null geometry
    val expected = rows.collect().map { r =>
      val geom = if (r.isNullAt(1) || r.isNullAt(2)) null
        else GeoMath.itmToWgs84(r.getDouble(1), r.getDouble(2)).toSeq
      r.getLong(0) -> geom
    }.toMap
    val exact = Seq((179254.0, 664694.0), (219529.584, 626907.390)).toDF("easting", "northing")
    assert(project(exact) == expected)
    assert(expected(4L) == null && expected(5L) == null)
    // pairs absent from the data change no output
    val wider = exact.union(Tables.ItmGrid.domain(spark))
      .union(Seq((179254.0, 664694.0)).toDF("easting", "northing"))
    assert(project(wider) == expected)
  }

  test("no file under src/main projects ITM coordinates or builds a point id outside GeoProjection") {
    // oracle SQL renders point ids with printf, which this does not match
    val projectionCall = """itmToWgs84|format_string\(\s*"%08\.5f"""".r
    val sources = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    }
    assert(sources.nonEmpty, "the guard must see the sources")
    val offenders = for {
      f <- sources if f.getFileName.toString != "GeoProjection.scala"
      text = Files.readString(f)
      m <- projectionCall.findAllMatchIn(text)
    } yield s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}"
    assert(offenders.isEmpty,
      s"projections and point ids must go through GeoProjection:\n${offenders.mkString("\n")}")
  }
}
