package graft.ops

import graft.QueryDef

/** Graph queries. */
package object graph {
  def defs: Seq[(String, QueryDef)] =
    Centrality.defs ++ Traversal.defs ++ Cores.defs
}
