package graft

import com.fasterxml.jackson.core.StreamWriteFeature
import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.databind.PropertyNamingStrategies
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer of the mains: case-class fields as snake_case keys,
  * maps in their iteration order, `BigDecimal`s plain (never in exponent
  * form), strings escaped by Jackson.
  */
object Json {

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .propertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)
    .enable(StreamWriteFeature.WRITE_BIGDECIMAL_AS_PLAIN)
    .build()

  /** One line, no spaces: the bench artifact. */
  def compact(value: AnyRef): String = mapper.writeValueAsString(value)

  /** `{"k": "v","k2": "v2"}`: the layout Verify's oracle files have always
    * had, so a dump compares byte for byte with an older one.
    */
  def spaced(value: AnyRef): String = mapper.writer(new DefaultPrettyPrinter(
    Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Separators.Spacing.AFTER)
      .withObjectEmptySeparator(""))
    .withObjectIndenter(null).withArrayIndenter(null))
    .writeValueAsString(value)
}
