package perfbench

import scala.collection.mutable

import graft.pbf._

/** Single-thread walk over a PBF file through the public functions of
  * `graft.pbf`, timing each decode and encode layer separately. Every
  * `WriteModulus`-th block is re-encoded, the share `write_nodes` writes.
  * Each layer also writes one span (its summed time) under the caller's
  * parent span.
  */
object PbfProbe {
  def run(path: String, tracer: Option[Tracer], parent: Int, pass: Int)
      : Map[String, Double] = {
    val t = mutable.LinkedHashMap(
      "pbf.frame_s" -> 0L, "pbf.inflate_s" -> 0L, "pbf.parse_s" -> 0L,
      "pbf.decode_s" -> 0L, "pbf.columns_s" -> 0L, "pbf.count_s" -> 0L,
      "pbf.encode_s" -> 0L, "pbf.deflate_s" -> 0L)
    var blocks, entities, inBytes, outBytes = 0L
    def timed[T](key: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      t(key) += System.nanoTime() - t0
      r
    }
    val start = tracer.map(_.now()).getOrElse(0L)
    val kinds = EntityKind.values.unsorted.toSet
    val sink = java.io.OutputStream.nullOutputStream()
    val in = new FileRangeReader(path)
    try {
      val refs = PbfScanner.blocksInRange(in, 0L, in.size)
      while (timed("pbf.frame_s")(refs.hasNext)) {
        val data = timed("pbf.frame_s") {
          val b = refs.next()
          val d = new Array[Byte](b.dataSize)
          in.read(b.dataStart, d, 0, b.dataSize)
          d
        }
        val payload = timed("pbf.inflate_s")(
          PbfBlockDecoder.inflateBlob(data, 0, data.length))
        val block = timed("pbf.parse_s")(PbfBlockDecoder.parsePrimitiveBlock(payload))
        val decoded = timed("pbf.decode_s")(
          PbfBlockDecoder.decodeEntities(block, kinds, withInfo = false).toVector)
        timed("pbf.columns_s")(
          PbfBlockDecoder.decodeDenseColumns(block).foreach(_ => ()))
        timed("pbf.count_s")(PbfBlockDecoder.countEntities(payload, kinds))
        if (blocks % OsmGen.WriteModulus == 0) {
          val raw = timed("pbf.encode_s")(PbfEncoder.blockPayload(decoded))
          timed("pbf.deflate_s")(PbfEncoder.writeFrame(sink, "OSMData", raw))
        }
        blocks += 1
        entities += decoded.size
        inBytes += data.length
        outBytes += payload.length
      }
    } finally in.close()
    tracer.foreach { tr =>
      // one span per layer, laid end to end from the probe's start
      var at = start
      t.foreach { case (k, ns) =>
        tr.add(Span(tr.nextId(), parent, pass, k.stripSuffix("_s"), "pbf_probe",
          at, at + ns))
        at += ns
      }
    }
    val mb = 1024.0 * 1024.0
    t.map { case (k, ns) => k -> ns / 1e9 }.toMap ++ Map(
      "pbf.blocks" -> blocks.toDouble, "pbf.entities" -> entities.toDouble,
      "pbf.inflate_in_mb" -> inBytes / mb, "pbf.inflate_out_mb" -> outBytes / mb)
  }
}
