package perfbench

import graft.QueryDef
import graft.ops._

/** graft's lane registries by module, as each module's `all` lists them. */
object Modules {
  val byModule: Seq[(String, Seq[QueryDef])] = Seq(
    "TpchOps" -> TpchOps.all, "BigQueryOps" -> BigQueryOps.all,
    "MusicOps" -> MusicOps.all, "OlapOps" -> OlapOps.all,
    "WindowOps" -> WindowOps.all, "NestedOps" -> NestedOps.all,
    "AsofOps" -> AsofOps.all, "RangeJoinOps" -> RangeJoinOps.all,
    "SkewOps" -> SkewOps.all, "SketchOps" -> SketchOps.all,
    "SqlOps" -> SqlOps.all, "TypedOps" -> TypedOps.all,
    "LlmTextOps" -> LlmTextOps.all, "EmbeddingOps" -> EmbeddingOps.all,
    "MultimodalOps" -> MultimodalOps.all, "PackingOps" -> PackingOps.all,
    "PerplexityOps" -> PerplexityOps.all, "CurationOps" -> CurationOps.all,
    "KvOps" -> KvOps.all, "TimeSeriesOps" -> TimeSeriesOps.all,
    "DqOps" -> DqOps.all, "GeoOps" -> GeoOps.all,
    "FormatOps" -> FormatOps.all,
    "StreamingOps" -> graft.streaming.StreamingOps.all,
  )

  /** lane name -> (module name, definition) */
  lazy val lanes: Map[String, (String, QueryDef)] =
    byModule.flatMap { case (m, defs) => defs.map(d => d.name -> (m, d)) }.toMap
}
