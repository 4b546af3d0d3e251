package graft.model

/** Feature schema objects mirroring the reference's Pydantic models
  * (`ML Feature Store Pipeline.py:27-48`), re-expressed as Scala case
  * classes.
  */
final case class FeatureConfig(
    name: String,
    dtype: String,
    description: String = "",
    tags: Seq[String] = Nil,
    owner: String = "") {
  require(FeatureConfig.AllowedDtypes.contains(dtype),
    s"dtype must be one of ${FeatureConfig.AllowedDtypes.mkString(", ")}: got '$dtype'")
}

object FeatureConfig {
  /** Closed dtype whitelist enforced by the reference's validator
    * (`ML Feature Store Pipeline.py:34-39`).
    */
  val AllowedDtypes: Set[String] =
    Set("int64", "float64", "object", "datetime64[ns]", "bool")
}

/** Quality metrics record (`ML Feature Store Pipeline.py:50-56`). Ratios are
  * fractions in [0,1]; `overallScore` is the composite of
  * `ML Feature Store Pipeline.py:152`.
  */
final case class DataQualityMetrics(
    nullPercentage: Double,
    duplicatePercentage: Double,
    outlierPercentage: Double,
    schemaViolations: Long,
    overallScore: Double)

/** Version metadata (`ML Feature Store Pipeline.py:41-48`). `createdAt` is an
  * ISO-8601 UTC instant string, as the reference stores TEXT timestamps.
  */
final case class FeatureMetadata(
    featureVersion: String,
    description: String,
    createdAt: String,
    features: Seq[FeatureConfig],
    dataQualityMetrics: Option[DataQualityMetrics] = None,
    lineage: Map[String, String] = Map.empty,
    tags: Seq[String] = Nil)
