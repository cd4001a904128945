package perfbench

import graft.operators.{DedupOps, GraphOps, MlOps, SimilarityOps, TextOps}
import graft.queries._

/** Writes the candidates of each workload and the DuckDB oracle SQL of
  * every registry entry as one JSON object to the given file; `survey.py`
  * and `pin.py` read it.
  *
  *  - `sql_interactive`: every registry entry defined in `graft.queries`;
  *  - `pipeline_batch`: the entries of `DedupOps`, `GraphOps`, `TextOps`,
  *    `MlOps` and `SimilarityOps`;
  *  - `stream_replay`: the streaming twins of `Streams`.
  *
  * Usage: perfbench.Registry OUT_FILE
  */
object Registry {
  def main(args: Array[String]): Unit = {
    val sql = TpchQueries.defs ++ Tpch2Queries.defs ++ Tpch3Queries.defs ++
      TpcdsQueries.defs ++ PrimitiveQueries.defs ++ RelationalQueries.defs ++
      JoinQueries.defs ++ WindowQueries.defs ++ NestedQueries.defs ++
      PredicateQueries.defs
    val pipeline = DedupOps.defs ++ GraphOps.defs ++ TextOps.defs ++
      MlOps.defs ++ SimilarityOps.defs
    val out = Map(
      "candidates" -> Map(
        "sql_interactive" -> sql.map(_.name),
        "pipeline_batch" -> pipeline.map(_.name),
        "stream_replay" -> Streams.all.map(_.name)),
      "oracle" -> graft.SparkEntry.oracleSql)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(args(0)),
      new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
        .writeValueAsString(out))
  }
}
