package perfbench

/** Writes the DuckDB oracle SQL of every pipeline_mix entry
  * (`SparkEntry.oracleSql`) as one JSON object, for `pin_hashes.py`.
  *
  *   perfbench.DumpOracle FILE
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val prefixes = Workloads.PipelineMix.map(_ + "_")
    val sql = graft.SparkEntry.oracleSql
      .filter { case (name, _) => prefixes.exists(name.startsWith) }
    Main.json.writeValue(new java.io.File(args(0)), sql)
  }
}
