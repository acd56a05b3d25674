package graft

import graft.queries._

/** Registry integrity: module maps must not shadow each other (Map ++
  * would silently drop a duplicated key → a query silently vanishing from
  * the correctness gate), and every oracle key must have a query.
  */
class RegistrySpec extends SparkSpec {

  private val modules: Seq[(String, Map[String, _])] = Seq(
    "Scans" -> Scans.all, "Projections" -> Projections.all,
    "Joins" -> Joins.all, "Aggregates" -> Aggregates.all,
    "Windows" -> Windows.all, "SortsLimits" -> SortsLimits.all,
    "SetOps" -> SetOps.all, "Scalars" -> Scalars.all,
    "LlmOps" -> LlmOps.all, "IndexVerbs" -> IndexVerbs.all,
    "ModalityVerbs" -> ModalityVerbs.all,
    "Streaming" -> StreamingQueries.all,
    "Extensibility" -> Extensibility.all, "Models" -> ModelQueries.all,
    "Reshape" -> Reshape.all, "Curation" -> CurationOps.all,
    "Pipeline" -> PipelineOps.all, "Analytics" -> AnalyticsOps.all,
    "Behavior" -> BehaviorOps.all, "Export" -> ExportOps.all,
    "Lifecycle" -> LifecycleOps.all)

  test("no query key collisions across modules") {
    val expected = modules.map(_._2.size).sum
    assert(Registry.all.size == expected,
      s"Registry has ${Registry.all.size} entries but modules define $expected")
  }

  test("every oracle key has a matching query") {
    val missing = Registry.oracles.keySet -- Registry.all.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("the full surface covers the SURVEY ids Q01..Q72 + r2..r18 additions") {
    val ids = Registry.all.keySet.map(_.takeWhile(_ != '_'))
    val expected = (1 to 211).map(i => f"q$i%02d").toSet
    assert(ids == expected, s"missing: ${expected -- ids}, extra: ${ids -- expected}")
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("bench stdout line fits the driver's ~2KB tail capture at worst-case widths") {
    // r2's round artifact was lost because the per-query JSON line outgrew
    // the capture window; Bench emits short keys + adaptive-precision
    // seconds (2dp < 10 s, 1dp to 100 s, integer seconds above — 4 chars
    // at their widest through 9999 s) and caps the noise map at 6
    // entries, and this guard fails the build before a future query
    // addition regrows the line. r16 recalibration: the r15 model used
    // the 3-char "999" CLAMP as worst case, but sub-10 s queries printed
    // 4-char 2dp values, so the REAL 175-query line overflowed the
    // capture (BENCH_r15 parsed=null). The model now matches Bench's
    // actual worst width — 3 chars at EVERY ladder rung ("9.9" 1dp /
    // "98" int / "99" clamp) — and keys drop the "q" prefix like the
    // line does (full names live in the detail file).
    // model = the ACTUAL emission at its widest: base-36 ordinal keys
    // (r18 — the decimal model hit exactly 2000 B at 200 queries),
    // 3-char values, both "go look" flags present (r17: absent when
    // noisy=0 / cont=false, so this is the worst case, not the typical)
    val worst = SparkEntry.queries.keys.toSeq.sorted
      .map(k => "\"" + Integer.toString(
        k.takeWhile(_ != '_').stripPrefix("q").toInt, 36) + "\":9.9")
      .mkString("{", ",", "}")
    val line = s"""{"metric":"total_warm_sec","value":99999.99,"unit":"sec","kb":36,"queries":$worst,"noisy":999,"cont":true,"sf":"sf0.001"}"""
    assert(line.length < 2000, s"bench line would be ${line.length}B — shrink keys or precision")
  }
}
