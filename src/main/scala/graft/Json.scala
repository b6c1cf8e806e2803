package graft

import com.fasterxml.jackson.databind.json.JsonMapper

/** JSON string literals for the result lines the mains assemble: quotes,
  * backslashes and every control character escaped, so a tab in a SQL
  * string or an exception message cannot break a downstream json.load. */
object Json {
  private val mapper = JsonMapper.builder().build()

  def str(s: String): String = mapper.writeValueAsString(s)
}
