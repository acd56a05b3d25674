package graft.core

import org.apache.spark.sql.SparkSession

/** Per-job execution context — the analogue of the reference's resolver
  * context (control/process.py:88: engine URLs and parameters are
  * template-resolved inside `connector_resolver.context(**resolver_context)`).
  *
  * `resolve` substitutes `{var}` placeholders; unresolved placeholders
  * throw (matching ayeaye's strict resolution).
  */
final case class EngineContext(
    spark: SparkSession,
    resolverContext: Map[String, String] = Map.empty) {

  private val Placeholder = "\\{([A-Za-z0-9_]+)\\}".r

  /** Resolve `{name}` templates in an engine URL / path / parameter. */
  def resolve(template: String): String =
    Placeholder.replaceAllIn(template, m =>
      resolverContext.getOrElse(m.group(1),
        throw new IllegalArgumentException(
          s"unresolved template variable '{${m.group(1)}}' in '$template'")))
}
