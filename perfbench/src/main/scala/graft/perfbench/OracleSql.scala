package graft.perfbench

/** Prints the DuckDB oracle SQL of the named keys as one JSON object;
  * `perfbench/regen_expected.py` turns it into expected digests. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val keys = args.flatMap(_.split(",")).filter(_.nonEmpty).toSet
    println(new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(graft.SparkEntry.oracleSql.filter { case (k, _) => keys(k) }))
  }
}
