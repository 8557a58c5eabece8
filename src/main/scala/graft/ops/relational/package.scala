package graft.ops

import graft.QueryDef

/** Relational and OLAP queries. */
package object relational {
  def defs: Seq[(String, QueryDef)] =
    Core.defs ++ Events.defs ++ Sessions.defs ++ Reshape.defs ++
      Analytics.defs ++ Intervals.defs ++ Tpch.defs
}
