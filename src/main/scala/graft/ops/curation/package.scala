package graft.ops

import graft.QueryDef

/** Corpus curation, deduplication and text queries. */
package object curation {
  def defs: Seq[(String, QueryDef)] =
    Text.defs ++ Dedup.defs ++ Release.defs ++ Training.defs ++
      Tokenizer.defs ++ Filtering.defs ++ Vocabulary.defs ++
      EntityResolution.defs
}
