package graft.util

import com.fasterxml.jackson.databind.DeserializationFeature
import com.fasterxml.jackson.databind.json.JsonMapper

/** The one JSON reader and writer for text that crosses the process
  * boundary (REST bodies, `oracle_sql.json`, the bench record): Jackson,
  * which ships with Spark. Tokens after the top-level value are an
  * error, not ignored. */
private[graft] object Json {
  val mapper: JsonMapper = JsonMapper.builder()
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)
    .build()
}
