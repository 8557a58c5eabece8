package graft.ops

import graft.QueryDef

/** Streaming-native queries. */
package object streams {
  def defs: Seq[(String, QueryDef)] =
    Maintenance.defs ++ Joins.defs ++ Watermarks.defs
}
