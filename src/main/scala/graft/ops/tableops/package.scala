package graft.ops

import graft.QueryDef

/** Table operations: layout, profiling, planning, integrity and privacy. */
package object tableops {
  def defs: Seq[(String, QueryDef)] =
    Layout.defs ++ Privacy.defs ++ Integrity.defs ++ Profiling.defs ++
      Planning.defs
}
