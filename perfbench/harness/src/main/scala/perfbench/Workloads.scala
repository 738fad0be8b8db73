package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.functions.OsmFunctions

/** One benchmark operation. `build` constructs the DataFrame (the entry's
  * own construction work, eager jobs included), `exec` drains it and
  * returns any extra per-layer figures, and `check` computes the answer
  * of a freshly built DataFrame once per run, outside the timed passes:
  * it returns an error message for a wrong answer, or None. `plan` is
  * false for an op whose `exec` runs its own query on the DataFrame (a
  * write): planning the DataFrame first would time a plan that never runs.
  */
final case class Op(
    name: String,
    build: SparkSession => DataFrame,
    exec: (SparkSession, DataFrame) => Map[String, Double] = Op.drain,
    check: (SparkSession, DataFrame) => Option[String],
    plan: Boolean = true)

object Op {
  /** Evaluate every row and column of the already-planned DataFrame. */
  def drain(s: SparkSession, df: DataFrame): Map[String, Double] = {
    df.queryExecution.toRdd.foreach(_ => ())
    Map.empty
  }
}

object Workloads {
  val PipelineMix: Seq[String] = Seq("p12", "p171", "p172")

  /** Registered entries by name prefix, each checked by writing its
    * output as parquet under `checkDir` for the oracle comparison.
    */
  def entries(prefixes: Seq[String], dataDir: String, checkDir: String): Seq[Op] =
    prefixes.map { p =>
      val d = SparkEntry.allDefs.find(_.name.startsWith(p + "_"))
        .getOrElse(sys.error(s"no registered entry $p"))
      Op(d.name, s => d.fn(s, dataDir), check = (_, df) => {
        df.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${d.name}")
        None
      })
    }

  private def expect[T](what: String, got: T, want: T): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  /** The osm_ingest ops over one generated file. */
  def osm(path: String, writeDir: String, inv: OsmInventory): Seq[Op] = {
    def read(s: SparkSession, kind: String): DataFrame =
      s.read.format("osmpbf").option("parseType", kind)
        .option("withInfo", "false").load(path)
    def one(df: DataFrame): Row = df.collect().head
    val (la0, la1, lo0, lo1) = OsmGen.Bbox
    Seq(
      Op("tile_density",
        s => read(s, "node").groupBy(OsmFunctions.tileId(col("lat"), col("lon"))
          .as("tile")).agg(count(lit(1)).as("n")),
        check = (_, df) => {
          val r = one(df.agg(count(lit(1)), sum(col("tile") * col("n"))))
          expect("tiles", (r.getLong(0), r.getLong(1)),
            (inv.tileCount, inv.tileChecksum))
        }),
      Op("tag_frequency",
        s => read(s, "node").select(explode(col("tags")).as(Seq("k", "v")))
          .groupBy("k", "v").agg(count(lit(1)).as("n")),
        check = (_, df) => expect("tag counts",
          df.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
            .toMap, inv.tags)),
      Op("bbox_columnar",
        s => read(s, "node")
          .where(col("lat").between(la0, la1) && col("lon").between(lo0, lo1))
          .select("id", "lat", "lon"),
        check = (_, df) => {
          val r = one(df.agg(count(lit(1)), sum(col("id"))))
          expect("bbox", (r.getLong(0), r.getLong(1)), (inv.bboxCount, inv.bboxIdSum))
        }),
      Op("count_pushdown",
        s => read(s, "node").groupBy().count(),
        check = (s, df) => expect("entities by kind",
          (one(df).getLong(0), read(s, "way").count(), read(s, "relation").count()),
          (inv.nodes, inv.ways, inv.relations))),
      Op("way_refs",
        s => read(s, "way").groupBy(size(col("nodes")).as("refs"))
          .agg(count(lit(1)).as("n")),
        check = (_, df) => expect("way refs histogram",
          df.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap, inv.wayRefs)),
      Op("write_nodes",
        s => read(s, "node").where(col("id") % OsmGen.WriteModulus === 0),
        exec = writeNodes(writeDir),
        check = (s, df) => expect("written-back nodes",
          writeNodes(writeDir)(s, df)("osmpbf.written_rows").toLong, inv.writtenNodes),
        plan = false))
  }

  /** Write with the osmpbf writer, then count the written nodes back. */
  private def writeNodes(writeDir: String)(s: SparkSession, df: DataFrame)
      : Map[String, Double] = {
    val t0 = System.nanoTime()
    df.write.format("osmpbf").option("parseType", "node")
      .option("withInfo", "false").mode("overwrite").save(writeDir)
    val writeS = (System.nanoTime() - t0) / 1e9
    val back = s.read.format("osmpbf").option("parseType", "node")
      .option("withInfo", "false").load(writeDir).count()
    val bytes = Option(new java.io.File(writeDir).listFiles()).getOrElse(Array())
      .filter(_.getName.endsWith(".osm.pbf")).map(_.length()).sum
    Map("osmpbf.write_s" -> writeS, "osmpbf.write_mb" -> bytes / 1048576.0,
      "osmpbf.written_rows" -> back.toDouble, "osmpbf.written_bytes" -> bytes.toDouble)
  }
}
