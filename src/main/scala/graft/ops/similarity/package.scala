package graft.ops

import graft.QueryDef

/** Similarity, retrieval and embedding queries. */
package object similarity {
  def defs: Seq[(String, QueryDef)] =
    Vectors.defs ++ Search.defs ++ SetJoin.defs
}
