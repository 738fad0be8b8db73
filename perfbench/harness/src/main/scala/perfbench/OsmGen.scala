package perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.pbf._

/** What the generator wrote, counted while writing, independently of any
  * reader: the osm_ingest checks compare the engine's answers with it.
  */
final case class OsmInventory(
    nodes: Long,
    ways: Long,
    relations: Long,
    tileCount: Long,
    tileChecksum: Long,
    tags: Map[(String, String), Long],
    bboxCount: Long,
    bboxIdSum: Long,
    wayRefs: Map[Int, Long],
    writtenNodes: Long,
    bytes: Long,
    sha256: String)

/** Seeded OSM-PBF generator, written with `PbfEncoder.writeAll`.
  *
  * Nodes are dense, in id order, and spatially clustered: each run of 400
  * nodes sits around one random centre inside a Europe-sized box, the way
  * an extract's id order follows its edit history. About a third carry
  * one or two tags from a small vocabulary. Ways reference 10 to 50
  * consecutive node ids; relations group ways and nodes. Counts depend on
  * the size only, so every seed gives the same inventory shape.
  */
object OsmGen {
  val Bbox = (40.0, 50.0, 0.0, 15.0) // (minLat, maxLat, minLon, maxLon)
  val WriteModulus = 8 // write_nodes keeps ids divisible by this

  private val vocab: Array[(String, Array[String])] = Array(
    "amenity" -> Array("bench", "cafe", "parking", "restaurant", "school"),
    "highway" -> Array("bus_stop", "crossing", "street_lamp", "traffic_signals"),
    "shop" -> Array("bakery", "kiosk", "supermarket"),
    "natural" -> Array("peak", "spring", "tree"),
    "barrier" -> Array("bollard", "gate"))
  private val wayKinds =
    Array("residential", "service", "footway", "primary", "track")
  private val roles = Array("outer", "inner", "")

  /** Raw coordinate → degrees, exactly as the decoder computes it at the
    * encoder's granularity 100 and offset 0.
    */
  private def deg(raw: Long): Double = 1e-9 * (0L + 100 * raw)

  def tile(lat: Double, lon: Double): Long =
    math.floor((lat + 90) * 2048 / 180).toLong * 2048 +
      math.floor((lon + 180) * 2048 / 360).toLong

  def write(path: String, seed: Long, nodes: Int): OsmInventory = {
    val rng = new SplittableRandom(seed)
    val nWays = nodes / 10
    val nRels = math.max(nodes / 1000, 1)
    val tileCounts = mutable.HashMap.empty[Long, Long]
    val tags = mutable.HashMap.empty[(String, String), Long]
    val wayRefs = mutable.HashMap.empty[Int, Long]
    var bboxCount, bboxIdSum, written = 0L
    var cLat, cLon = 0L
    val nodeIt = Iterator.range(1, nodes + 1).map { i =>
      val id = i.toLong
      if (i % 400 == 1) {
        cLat = (36e7 + rng.nextDouble() * 24e7).toLong
        cLon = (-8e7 + rng.nextDouble() * 36e7).toLong
      }
      val lat = deg(cLat + rng.nextLong(-500000L, 500000L))
      val lon = deg(cLon + rng.nextLong(-500000L, 500000L))
      val t: Map[String, String] =
        if (rng.nextInt(3) != 0) Map.empty
        else Seq.fill(1 + rng.nextInt(2)) {
          val (k, vs) = vocab(rng.nextInt(vocab.length))
          k -> vs(rng.nextInt(vs.length))
        }.toMap
      t.foreach(kv => tags(kv) = tags.getOrElse(kv, 0L) + 1)
      val tl = tile(lat, lon)
      tileCounts(tl) = tileCounts.getOrElse(tl, 0L) + 1
      if (lat >= Bbox._1 && lat <= Bbox._2 && lon >= Bbox._3 && lon <= Bbox._4) {
        bboxCount += 1; bboxIdSum += id
      }
      if (id % WriteModulus == 0) written += 1
      OsmNode(id, lat, lon, t, None): OsmEntity
    }
    val wayIt = Iterator.range(1, nWays + 1).map { i =>
      val n = 10 + rng.nextInt(41)
      val first = 1L + rng.nextLong(nodes - n)
      wayRefs(n) = wayRefs.getOrElse(n, 0L) + 1
      OsmWay(i.toLong, Array.tabulate(n)(j => first + j),
        Map("highway" -> wayKinds(rng.nextInt(wayKinds.length))), None): OsmEntity
    }
    val relIt = Iterator.range(1, nRels + 1).map { i =>
      val members = Array.fill(2 + rng.nextInt(9)) {
        if (rng.nextInt(4) == 0) OsmMember("", 1L + rng.nextInt(nodes), "node")
        else OsmMember(roles(rng.nextInt(roles.length)),
          1L + rng.nextInt(nWays), "way")
      }
      OsmRelation(i.toLong, members, Map("type" -> "multipolygon"), None): OsmEntity
    }
    val out = new BufferedOutputStream(new FileOutputStream(path), 1 << 20)
    try PbfEncoder.writeAll(out, nodeIt ++ wayIt ++ relIt)
    finally out.close()
    val checksum = tileCounts.iterator.map { case (t, c) => t * c }.sum
    OsmInventory(nodes, nWays, nRels, tileCounts.size.toLong, checksum,
      tags.toMap, bboxCount, bboxIdSum, wayRefs.toMap, written,
      new java.io.File(path).length(), sha256(path))
  }

  def sha256(path: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = new java.io.FileInputStream(path)
    try {
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
