package perfbench

/** Prints `SparkEntry.oracleSql` as one JSON object (name -> SQL text),
  * limited to the names given as arguments (all when none).
  */
object DumpOracle {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    val keep = if (args.isEmpty) all else all.filter { case (k, _) => args.contains(k) }
    val m = new java.util.TreeMap[String, String]()
    keep.foreach { case (k, v) => m.put(k, v) }
    println(new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(m))
  }
}
