package graft.ops

import graft.QueryDef

/** Statistics, experimentation and drift queries. */
package object stats {
  def defs: Seq[(String, QueryDef)] =
    Sketches.defs ++ Descriptive.defs ++ TimeSeries.defs ++
      Evaluation.defs ++ Association.defs ++ Drift.defs ++
      Experimentation.defs
}
