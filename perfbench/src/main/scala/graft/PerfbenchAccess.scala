package graft

import org.apache.spark.sql.Column

/** Engine helpers the streaming twins use that the engine keeps
  * package-private, as `graft.Bench` uses them.
  */
object PerfbenchAccess {
  def docFp(text: Column): Column = operators.CorpusOps.docFp(text)
}
