package graft.ops

import graft.QueryDef

/** Change-data-capture queries. */
package object cdc {
  def defs: Seq[(String, QueryDef)] =
    Capture.defs ++ Materialization.defs
}
