package graft.ops

import graft.QueryDef

/** Multimodal codec queries. */
package object media {
  def defs: Seq[(String, QueryDef)] =
    Blobs.defs ++ Image.defs ++ Audio.defs ++ Video.defs
}
