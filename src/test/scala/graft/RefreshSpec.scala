package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.llmops.{Pipeline, Refresh}

/** The exact-incrementality contract of the composed refresh
  * ([[graft.llmops.Refresh]]): within an epoch,
  *
  *   process(epoch, newCorpus) ≡ (process(epoch, resident) ∖ deletes)
  *                                ∪ process(epoch, arrivals)
  *
  * asserted on an adversarial corpus that exercises every stage
  * boundary: cross-batch duplicates (arrival must drop via the index
  * probe), intra-batch duplicates (smaller seq wins), a changed
  * document whose new text duplicates a resident (net: leaves the
  * export), a removed document whose resident duplicate must NOT
  * revive mid-epoch (the declared compaction-cadence freshness model),
  * benchmark contamination (Bloom), a too-short arrival (gate), and an
  * arrival carrying resident boilerplate (span cut, doc survives). */
class RefreshSpec extends SparkSpec {
  import spark.implicits._

  private val rules = Pipeline.GateRules(minTokens = 5, maxTokens = 10000,
    minStopRatio = 0.0, minTtr = 0.0, maxDupTrigram = 1.0)

  // English-stopword-heavy bodies so predictLang agrees with the label
  private def en(body: String) = s"the story of $body and the end of it all"

  private val resident = Seq(
    (1L, en("a quiet village in the north where rivers meet the sea")),
    (2L, en("a merchant who sails to the east for spice and silk trade")),
    // 3 duplicates 2 exactly → star drops 3 at epoch build
    (3L, en("a merchant who sails to the east for spice and silk trade")),
    // 4 and 5 share a long boilerplate passage → span authority
    (4L, en("chapter one all rights reserved printed in the year of the press edition") + " unique tail four"),
    (5L, en("chapter one all rights reserved printed in the year of the press edition") + " unique tail five"),
    (6L, en("a lighthouse keeper and the storm that took the harbor wall down")),
    // 7 will be REMOVED in the new snapshot; 8 duplicates it (dropped
    // at build) and must not revive mid-epoch
    (7L, en("an orchard on the hill where the west wind bends the apple trees")),
    (8L, en("an orchard on the hill where the west wind bends the apple trees")),
    // 9 will be CHANGED in the new snapshot
    (9L, en("a clockmaker in the old town square who winds the tower bell")),
    // 10 will be CHANGED by a minor edit — the self-masked index probe
    // must NOT let its own predecessor's bands suppress the new version
    (10L, en("a ferryman who rows the night mail across the frozen strait"))
  ).toDF("doc_id", "text").withColumn("lang", lit("en"))
    .withColumn("seq", col("doc_id"))

  private val benchmark = Seq(
    (100L, en("the secret benchmark passage about the seven bridges of the river city"))
  ).toDF("doc_id", "text")

  private def newCorpus = {
    val changed = Seq(
      // 9 changes: its NEW text duplicates resident 6 → new version
      // drops at dedup; net effect: doc 9 tombstones out
      (9L, en("a lighthouse keeper and the storm that took the harbor wall down")),
      // 10 changes by a MINOR EDIT: near-dup of its own old version
      // only → must re-enter the export (self-masked star probe)
      (10L, en("a ferryman who rows the night mail across the frozen strait") + " second printing"))
    val added = Seq(
      // duplicates resident 1 → must drop via the band-index probe
      (20L, en("a quiet village in the north where rivers meet the sea")),
      // intra-batch duplicate pair → 21 (smaller seq) survives, 22 drops
      (21L, en("a baker whose ovens warm the street before the sun is up")),
      (22L, en("a baker whose ovens warm the street before the sun is up")),
      // contaminated: shares an 8-gram with the benchmark → Bloom drops
      (23L, "notes on " + en("the secret benchmark passage about the seven bridges of the river city")),
      // too short → gate drops
      (24L, "tiny doc"),
      // carries the resident boilerplate passage → span cut, survives scrubbed
      (25L, en("chapter one all rights reserved printed in the year of the press edition") + " a genuinely new ending about the glassblower and the furnace"),
      // plain new doc → survives untouched
      (26L, en("a cartographer who maps the coast from a rowing boat in the fog")))
    resident.filter(!col("doc_id").isin(7L, 9L, 10L)).select("doc_id", "text")
      .unionByName((changed ++ added).toDF("doc_id", "text"))
      .withColumn("lang", lit("en"))
  }

  private lazy val cacheRoot =
    java.nio.file.Files.createTempDirectory("refresh-spec").toString

  private lazy val epoch = Refresh.buildEpoch(spark, cacheRoot, "e1",
    resident, benchmark, "doc_id", "seq", "text", "lang", rules,
    windowTokens = 8, numPerms = 16, bands = 4, bloomN = 8)

  private lazy val residentKept =
    Refresh.process(epoch, resident, "doc_id", "seq", "text", "lang")
      .localCheckpoint(true)

  private lazy val (upserts, deletes) = Refresh.refreshDelta(epoch,
    resident.select("doc_id", "text"), newCorpus,
    "doc_id", "seq", "text", "lang", seqBase = 1000L)

  private def keptSet(df: DataFrame): Set[(Long, String)] =
    df.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet

  test("epoch build: star keeps min-seq, span authority is resident boilerplate") {
    val kept = keptSet(residentKept).map(_._1)
    assert(kept.contains(2L) && !kept.contains(3L), "min-seq dup keeper")
    assert(kept.contains(7L) && !kept.contains(8L), "orchard dup keeper")
    assert(kept.contains(1L) && kept.contains(6L) && kept.contains(9L))
    // 4 kept, 5 kept as DOCS (scrub cuts the shared span, tails differ)
    assert(kept.contains(4L) && kept.contains(5L))
    val t5 = keptSet(residentKept).find(_._1 == 5L).get._2
    assert(!t5.contains("rights reserved"), s"span not cut: $t5")
  }

  test("delta verdicts: every adversarial arrival lands on the right side") {
    val up = keptSet(upserts).map(_._1)
    assert(!up.contains(20L), "cross-batch duplicate must drop via the index probe")
    assert(up.contains(21L) && !up.contains(22L), "intra-batch: smaller seq wins")
    assert(!up.contains(23L), "benchmark 8-gram overlap must drop at the Bloom")
    assert(!up.contains(24L), "too-short arrival must drop at the gate")
    assert(up.contains(25L), "boilerplate-carrying arrival survives scrubbed")
    val t25 = keptSet(upserts).find(_._1 == 25L).get._2
    assert(!t25.contains("rights reserved") && t25.contains("glassblower"),
      s"arrival span cut wrong: $t25")
    assert(up.contains(26L), "plain new doc survives")
    assert(!up.contains(9L), "changed doc's new text duplicates resident 6")
    assert(up.contains(10L),
      "minor-edit change must re-enter: own predecessor's bands are self-masked")
    val del = deletes.as[Long].collect().toSet
    assert(del === Set(7L, 9L, 10L), s"tombstones = removed ∪ changed, got $del")
    // arrivals probe the epoch's persisted authorities: the executed
    // plan never re-reads the resident corpus (a local relation here)
    val plan = Refresh.process(epoch,
        newCorpus.withColumn("seq", col("doc_id")).localCheckpoint(true),
        "doc_id", "seq", "text", "lang")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("LocalTableScan"), plan.take(2000))
  }

  test("exact incrementality: resident ∖ deletes ∪ upserts ≡ full run, verdict-for-verdict") {
    val full = Refresh.process(epoch,
      newCorpus.withColumn("seq",
        when(col("doc_id") >= 20L || col("doc_id").isin(9L, 10L),
          lit(1000L) + col("doc_id")).otherwise(col("doc_id"))),
      "doc_id", "seq", "text", "lang")
    val del = deletes.as[Long].collect().toSet
    val applied = keptSet(residentKept).filterNot(d => del(d._1)) ++ keptSet(upserts)
    assert(applied === keptSet(full),
      "incremental apply diverged from the full epoch run")
    // the mid-epoch freshness model: 8 (dup of removed 7) must NOT
    // revive in EITHER path — the band index is the authority until
    // the next epoch rebuild
    assert(!applied.map(_._1).contains(8L) && !keptSet(full).map(_._1).contains(8L))
  }

  test("resident verdicts are immune to arrivals: upserts never touch unchanged ids") {
    val unchangedIds = resident.select("doc_id").as[Long].collect().toSet - 7L - 9L - 10L
    assert(keptSet(upserts).map(_._1).intersect(unchangedIds).isEmpty)
  }

  test("store-backed epoch: the manifest seq IS the epoch key — DML re-keys, generations persist") {
    import graft.server.Dml
    import graft.load.{GraphLoader, IndexKeys, Store}
    val out = java.nio.file.Files.createTempDirectory("refreshstore").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    // the resident corpus lives IN the store, landed through the same
    // validated DML sink everything else uses
    Dml.execute(spark, out, "CREATE VERTEX TYPE Doc")
    Dml.execute(spark, out, "CREATE PROPERTY Doc.text STRING")
    Dml.execute(spark, out, "CREATE PROPERTY Doc.lang STRING")
    val values = resident.select("doc_id", "text").collect()
      .map(r => s"(${5000000L + r.getLong(0)}, '${r.getString(1)}', 'en')")
      .mkString(", ")
    Dml.execute(spark, out, s"INSERT INTO Doc (id, text, lang) VALUES $values")
    def docs() = Store.readLabel(spark, out, "nodes", "Doc",
        Store.readManifest(out)).get
      .select(col("id").as("doc_id"), col("text"), col("lang"))
      .withColumn("seq", col("doc_id"))
    val cache2 = java.nio.file.Files.createTempDirectory("refreshstore-cache").toString
    val fp0 = IndexKeys.fingerprint(out)
    val epStore = Refresh.buildEpoch(spark, cache2, IndexKeys.key("epoch", out),
      docs(), benchmark, "doc_id", "seq", "text", "lang", rules, windowTokens = 8)
    val kept0 = Refresh.process(epStore, docs(), "doc_id", "seq", "text", "lang")
      .select("doc_id").as[Long].collect().toSet
    // the store-backed run is the parquet-frame run, id-shifted: same
    // texts, same seq ORDER, same knobs → same verdicts
    assert(kept0 == keptSet(residentKept).map(_._1 + 5000000L),
      "store-backed epoch diverged from the parquet-frame epoch")
    // ONE DML commit bumps the manifest seq → the epoch key moves too
    Dml.execute(spark, out, "INSERT INTO Doc (id, text, lang) VALUES " +
      "(5000011, 'the tale of a glassfloat drifting over the reef at dawn and the end of it all', 'en')")
    assert(IndexKeys.fingerprint(out) != fp0)
    // a rebuild under the CURRENT key sees the appended doc; the stale
    // generation's authorities stay untouched on disk (readers of the
    // old epoch keep serving their snapshot — generation semantics)
    val ep1 = Refresh.buildEpoch(spark, cache2, IndexKeys.key("epoch", out),
      docs(), benchmark, "doc_id", "seq", "text", "lang", rules, windowTokens = 8)
    val kept1 = Refresh.process(ep1, docs(), "doc_id", "seq", "text", "lang")
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 == kept0 + 5000011L)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(cache2,
      Refresh.epochCacheKey(s"epoch-$fp0", 8, 16, 4, rules) + "-span")))
  }

  test("epoch cache keys fingerprint knobs: a knob change rebuilds, never opens the old index") {
    // ADVICE r13 #1: same source key, different windowTokens — the
    // second build must land its OWN persisted dirs (the old-knob
    // index opened under new knobs would be silently wrong)
    val cr = java.nio.file.Files.createTempDirectory("refresh-knobs").toString
    Refresh.buildEpoch(spark, cr, "k", resident, benchmark,
      "doc_id", "seq", "text", "lang", rules, windowTokens = 8)
    Refresh.buildEpoch(spark, cr, "k", resident, benchmark,
      "doc_id", "seq", "text", "lang", rules, windowTokens = 10)
    def dir(w: Int) = java.nio.file.Paths.get(cr,
      Refresh.epochCacheKey("k", w, 16, 4, rules) + "-span")
    assert(java.nio.file.Files.isDirectory(dir(8)) &&
      java.nio.file.Files.isDirectory(dir(10)))
    // and a RULES change re-keys too
    val rules2 = rules.copy(minTokens = 6)
    Refresh.buildEpoch(spark, cr, "k", resident, benchmark,
      "doc_id", "seq", "text", "lang", rules2, windowTokens = 8)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(cr,
      Refresh.epochCacheKey("k", 8, 16, 4, rules2) + "-span")))
    assert(Refresh.epochCacheKey("k", 8, 16, 4, rules2) !=
      Refresh.epochCacheKey("k", 8, 16, 4, rules))
  }

  test("epoch roll resolves tombstoned authorities: a suppressed duplicate of a removed doc revives") {
    import graft.server.Dml
    import graft.load.GraphLoader
    val out = java.nio.file.Files.createTempDirectory("refreshroll").toString
    GraphLoader.writeGraph(spark, sfDir, out)
    Dml.execute(spark, out, "CREATE VERTEX TYPE Doc")
    Dml.execute(spark, out, "CREATE PROPERTY Doc.text STRING")
    Dml.execute(spark, out, "CREATE PROPERTY Doc.lang STRING")
    val values = resident.select("doc_id", "text").collect()
      .map(r => s"(${5000000L + r.getLong(0)}, '${r.getString(1)}', 'en')")
      .mkString(", ")
    Dml.execute(spark, out, s"INSERT INTO Doc (id, text, lang) VALUES $values")
    val cr = java.nio.file.Files.createTempDirectory("refreshroll-cache").toString
    // epoch 1: doc 8 (5000008) duplicates doc 7 (5000007) → suppressed
    val (ep0, built0) = Refresh.storeEpoch(spark, out, cr, "Doc", "text", "lang",
      rules, windowTokens = 8)
    assert(built0, "first call must build")
    def docs() = graft.load.Store.readLabel(spark, out, "nodes", "Doc",
        graft.load.Store.readManifest(out)).get
      .select(col("id").as("doc_id"), col("text"), col("lang"))
      .withColumn("seq", col("doc_id"))
    def keptIds(ep: Refresh.Epoch) =
      Refresh.process(ep, docs(), "doc_id", "seq", "text", "lang")
        .select("doc_id").as[Long].collect().toSet
    assert(!keptIds(ep0).contains(5000008L), "duplicate suppressed in epoch 1")
    // an unchanged manifest: the trigger is a build-or-open no-op
    val (_, built1) = Refresh.storeEpoch(spark, out, cr, "Doc", "text", "lang",
      rules, windowTokens = 8)
    assert(!built1, "unchanged manifest must open, not rebuild")
    // the keeper is REMOVED through the DML surface → manifest moves →
    // the maintenance-cadence call REBUILDS → the duplicate revives
    // (its suppressor's bands left the index with the rebuild)
    assert(Dml.execute(spark, out, "DELETE FROM Doc WHERE id = 5000007") == 1)
    val (ep1, built2) = Refresh.storeEpoch(spark, out, cr, "Doc", "text", "lang",
      rules, windowTokens = 8)
    assert(built2, "moved manifest must rebuild")
    assert(keptIds(ep1).contains(5000008L),
      "post-roll, the removed doc's duplicate must revive")
    // but a STANDING epoch would still suppress it — the freeze is the
    // documented mid-epoch model, the roll is what ends it
    assert(!keptIds(ep0).contains(5000008L))
  }
}
