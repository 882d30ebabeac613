package perfbench

import graft.canon.ConnectedComponents
import graft.fixtures.InvoiceCorpus
import graft.graph.TripleStore
import graft.link.EntityLinker
import graft.model.OcrDoc
import graft.run.{FastExtract, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/** The three knowledge-graph workloads: two bulk builds and a serving mix.
  * Every input is a pure function of `--seed`; every check compares the
  * committed graph with a truth derived from the generator's records
  * (`InvoiceCorpus.record`), never with another output of the engine. */
object Kg {
  import Main._

  /** runResumable's snapshot id for the canonical-map stage. */
  val CanonBatch = 1000000
  val NoiseP = 0.25

  /** Order-independent fingerprint of a set of (subj, pred, obj) rows:
    * its size and two wrapping sums of row hashes — one aggregation pass
    * instead of a join of the two sets. */
  def fingerprint(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col("subj"), col("pred"), col("obj"))),
      sum(xxhash64(col("obj"), col("pred"), col("subj")))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  def writeDocs(spark: SparkSession, from: Long, until: Long, seed: Long,
      vendorPool: Int, dir: Path): Unit = {
    deleteTree(dir)
    InvoiceCorpus.docsRange(spark, from, until, seed, NoiseP, vendorPool = vendorPool)
      .toDF().write.parquet(dir.toString)
  }

  def copyTree(from: Path, to: Path): Unit = {
    deleteTree(to)
    val s = Files.walk(from)
    try s.forEach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** Truth triples of one invoice's own subject, from its generator record
    * (vendor/client objects are the clean names' slugs, as on the
    * gazetteer corpus). */
  def invoiceTruth(r: InvoiceCorpus.InvoiceRecord): Set[(String, String, String)] = {
    val inv = "invoice:" + r.docId
    Set(
      (inv, "rdf:type", "facturai:Invoice"),
      (inv, "hasNumber", r.number),
      (inv, "hasDate", r.date.toString),
      (inv, "hasDueDate", r.dueDate.toString),
      (inv, "hasVendor", "vendor:" + InvoiceCorpus.slug(r.vendor.name)),
      (inv, "hasClient", "vendor:" + InvoiceCorpus.slug(r.client.name)),
      (inv, "hasSubtotalHT", InvoiceCorpus.dotMoney(r.subtotalCents)),
      (inv, "hasTVA", InvoiceCorpus.dotMoney(r.tvaCents)),
      (inv, "hasTotalTTC", InvoiceCorpus.dotMoney(r.totalTtcCents))) ++
      r.items.indices.map(k => (inv, "hasLineItem", s"lineItem:${r.docId}/$k"))
  }

  /** `runResumable`'s steps as written when this was made, called one by
    * one through the engine's public functions, each under its span and
    * forced (counted) so the span holds its own work. The registry encoding
    * is private in Pipeline and is restated here; the stores this writes
    * are checked exactly like runResumable's. `copyDrift` tells when the
    * engine's versions of these steps have changed since. */
  def tracedBuild(spark: SparkSession, tr: Tracer, docs: DataFrame, root: String,
      nBatches: Int, cfg: Pipeline.Config): Unit = {
    import spark.implicits._
    def ocr(d: DataFrame) = d.selectExpr("doc_id", "page_w", "page_h", "spans").as[OcrDoc]
    val vm = tr.span("run.mentions") {
      val v = FastExtract.vendorMentions(ocr(docs)).toDF().persist()
      tr.rows(v.count()); v
    }
    val (cm, ents) = try {
      val ents = tr.span("link.entities") {
        val e = EntityLinker.entities(vm); tr.rows(e.count()); e
      }
      val edges = tr.span("link.edges") {
        val e = graft.Materialize(EntityLinker.candidateEdgesFromEntities(
          ents, cfg.numHashes, cfg.jaccardMin, cfg.editSimMin, cfg.useIce,
          smallThreshold = cfg.elSmallThreshold))
        tr.rows(e.count()); e
      }
      val comps = tr.span("canon.cc") {
        val c = graft.Materialize(ConnectedComponents.run(edges)); tr.rows(c.count()); c
      }
      val cm = tr.span("canon.map") {
        val counts = graft.ops.Skew.saltedCount(vm, "entity_key",
            saltFrom = xxhash64(col("doc_id"), col("role")), salts = 16)
          .select(col("entity_key").as("id"), col("n"))
        val m = graft.Materialize(ConnectedComponents.canonicalMap(comps, counts), eager = false)
        tr.rows(m.count()); m
      }
      (cm, ents)
    } finally vm.unpersist()

    val reg = ents.select(concat(lit("vendor:"), col("entity_key")).as("s"),
      col("surface"), col("n_mentions"), col("ice"))
    val canonTriples = cm.select(concat(lit("vendor:"), col("id")).as("subj"),
        lit("canonicalOf").as("pred"), concat(lit("vendor:"), col("canonical")).as("obj"))
      .unionByName(reg.select(col("s").as("subj"), lit("_reg_surface").as("pred"), col("surface").as("obj")))
      .unionByName(reg.select(col("s").as("subj"), lit("_reg_n").as("pred"),
        col("n_mentions").cast("string").as("obj")))
      .unionByName(reg.where(col("ice").isNotNull).select(col("s").as("subj"),
        lit("_reg_ice").as("pred"), col("ice").as("obj")))
    commit(tr, canonTriples, root, CanonBatch, Map("n_batches" -> nBatches.toLong))

    val canonMap = TripleStore.read(spark, root).where(col("pred") === "canonicalOf")
      .select(regexp_replace(col("subj"), "^vendor:", "").as("id"),
        regexp_replace(col("obj"), "^vendor:", "").as("canonical"))
    val canonRows = TripleStore.counterValue(root, CanonBatch, "canonicalOf")
      .getOrElse(canonMap.count())
    (0 until nBatches).foreach { b =>
      val batchDocs = docs.where(pmod(xxhash64(col("doc_id")), lit(nBatches)) === b)
      val raw = tr.span("run.extract") {
        val t = graft.Materialize(FastExtract.triples(ocr(batchDocs)).toDF()); tr.rows(t.count()); t
      }
      val triples = tr.span("run.canonicalize") {
        val t = graft.Materialize(Pipeline.canonicalize(raw, canonMap, canonRows,
          cfg.broadcastEntityLimit).select("subj", "pred", "obj").distinct())
        tr.rows(t.count()); t
      }
      commit(tr, triples, root, b, Map("docs" -> batchDocs.count()))
    }
  }

  /** The engine functions `tracedBuild` restates, with the SHA-256 of the
    * source text each had when it was written (from its `def` line to the
    * doc comment or `def` that follows). */
  val Restated: Seq[(String, String)] = Seq(
    "runResumable" -> "a316b9e7766cc0637c3dbe1b00af355a17737b6e351c8814eb6f197c7052a515",
    "canonicalEntityMapAndEnts" -> "2e470272320697ecf36c4c74e7029f6e24df1d7c01eb9d5b888b1ac922e97c0f",
    "registryTriples" -> "5b9762cac7caaeb4e3fbc40aab7687683055a307daae5746b967d4346d2c6c5d")
  val PipelineSource = "src/main/scala/graft/run/Pipeline.scala"

  /** Source text of `def name` in Pipeline.scala ("" when absent). */
  def pipelineDef(name: String): String = {
    val p = java.nio.file.Paths.get(PipelineSource)
    if (!Files.isRegularFile(p)) ""
    else {
      val lines = Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      val start = lines.indexWhere(_.matches(s"  (private )?def $name\\b.*"))
      if (start < 0) ""
      else lines.drop(start).zipWithIndex
        .takeWhile { case (l, i) => i == 0 || !l.matches("  ((private )?def |/\\*\\*).*") }
        .map(_._1).mkString("\n")
    }
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  /** How many of the restated functions differ from the versions
    * `tracedBuild` was written against: above 0, the build spans describe
    * steps the engine no longer takes. */
  def copyDrift(): Int = Restated.count { case (name, h) => sha256(pipelineDef(name)) != h }

  /** TripleStore.commitBatch under the graph.commit span, with the rows
    * (from the snapshot's lineage counters) and files it wrote. */
  def commit(tr: Tracer, triples: DataFrame, root: String, batch: Int,
      counters: Map[String, Long]): Unit = tr.span("graph.commit") {
    TripleStore.commitBatch(triples, root, batch, counters)
    if (tr.active) {
      val s = Files.walk(java.nio.file.Paths.get(root, "data"))
      try tr.files(s.filter(p => p.toString.endsWith(".parquet") &&
        p.getParent.getFileName.toString == s"batch=$batch").count())
      finally s.close()
      // lineage counters: one per predicate plus the caller's
      tr.rows(TripleStore.counters(triples.sparkSession, root).collect()
        .filter(r => r.getInt(0) == batch && !counters.contains(r.getString(1)))
        .map(_.getLong(2)).sum)
    }
  }

  // ======================================================================
  // build_gazetteer / build_vendor_skew
  // ======================================================================

  /** A bulk build: `runResumable(nBatches = 8)` of a parquet docs table
    * into a fresh store, the shape of `Main --docs <parquet>`.
    * `vendorPool = 0` draws vendors from the 24-name gazetteer;
    * otherwise Zipf(1) over that many synthesized vendors. */
  final class Build(spark: SparkSession, o: Opts, tr: Tracer, vendorPool: Int) extends Workload {
    import spark.implicits._
    val n: Long = if (o.tiny) 400L else 20000L
    val nBatches = 8
    /** The skewed build runs the distributed linking chain, as a corpus
      * above EntityLinker's 50k-entity driver-side threshold would; at the
      * benchmark's 20k documents (~17k entities) the default would take
      * the driver-side path. */
    val cfg: Pipeline.Config =
      if (vendorPool > 0) Pipeline.Config(elSmallThreshold = 0) else Pipeline.Config()
    private val docsDir = o.work.resolve("docs")
    private lazy val docs = spark.read.parquet(docsDir.toString)

    def generate(): Unit = writeDocs(spark, 0, n, o.seed, vendorPool, docsDir)

    def round(r: Int): Round = {
      val root = o.work.resolve(s"store_$r")
      deleteTree(root)
      val (_, wall) = time {
        if (tr.active) tracedBuild(spark, tr, docs, root.toString, nBatches, cfg)
        else Pipeline.runResumable(spark, docs, root.toString, nBatches, cfg)
      }
      val committed = TripleStore.committedBatches(root.toString).size
      val bytes = dirBytes(root).toDouble
      val entities = TripleStore.counterValue(root.toString, CanonBatch, "canonicalOf").getOrElse(0L)
      val graph = tr.span("graph.read") {
        val g = Pipeline.readGraph(spark, root.toString).persist()
        tr.rows(g.count()); g
      }
      val (checks, fault) = try {
        if (vendorPool == 0) (gazetteerChecks(graph, root.toString), Map.empty[String, Double])
        else skewChecks(graph)
      } finally graph.unpersist()
      deleteTree(root)
      Round.of(wall, Map("commits" -> ((nBatches + 1).toLong, (nBatches + 1 - committed).toLong)), checks,
        Map("build_docs_per_s" -> n / wall, "store_bytes" -> bytes,
          "entities" -> entities.toDouble) ++ fault)
    }

    /** The visible graph equals the generator's expected triples, and the
      * manifests' `docs` counters add up to the corpus. */
    private def gazetteerChecks(g: DataFrame, root: String): Seq[Check] = {
      val want = fingerprint(InvoiceCorpus.expectedTriples(spark, n, o.seed, NoiseP).toDF())
      val docsCounted = TripleStore.counters(spark, root).where(col("key") === "docs")
        .agg(sum("value")).head()
      Seq(
        Check("graph == expectedTriples", fingerprint(g) == want),
        Check("manifest docs counters sum to n",
          !docsCounted.isNullAt(0) && docsCounted.getLong(0) == n))
    }

    /** Properties of the skewed build against truth derived from
      * `InvoiceCorpus.record(i, seed, noiseP, vendorPool)`, and the size of
      * the ICE fault: canonical vendors with more than one hasICE, and the
      * most ICEs one of them holds. */
    private def skewChecks(g: DataFrame): (Seq[Check], Map[String, Double]) = {
      val (seed, pool) = (o.seed, vendorPool)
      val recs = spark.range(n).map(i => InvoiceCorpus.record(i, seed, NoiseP, pool))
      // doc-scoped triples other than hasVendor/hasClient
      val docTruth = recs.flatMap { r =>
        val inv = "invoice:" + r.docId
        Seq((inv, "rdf:type", "facturai:Invoice"), (inv, "hasNumber", r.number),
          (inv, "hasDate", r.date.toString), (inv, "hasDueDate", r.dueDate.toString),
          (inv, "hasSubtotalHT", InvoiceCorpus.dotMoney(r.subtotalCents)),
          (inv, "hasTVA", InvoiceCorpus.dotMoney(r.tvaCents)),
          (inv, "hasTotalTTC", InvoiceCorpus.dotMoney(r.totalTtcCents))) ++
          r.items.zipWithIndex.flatMap { case (it, k) =>
            val li = s"lineItem:${r.docId}/$k"
            Seq((inv, "hasLineItem", li), (li, "hasDescription", it.description),
              (li, "hasQuantity", it.quantity.toString),
              (li, "hasAmount", InvoiceCorpus.dotMoney(it.totalCents)))
          }
      }.toDF("subj", "pred", "obj")
      val docGraph = g.where((col("subj").startsWith("invoice:") || col("subj").startsWith("lineItem:")) &&
        !col("pred").isin("hasVendor", "hasClient"))

      val roles = g.where(col("pred").isin("hasVendor", "hasClient"))
      val perInvoice = roles.groupBy("subj", "pred").count()
      val oneEach = perInvoice.where(col("count") =!= 1).isEmpty && perInvoice.count() == 2 * n

      val sameAs = g.where(col("pred") === "sameAs")
      val targets = roles.select("obj").union(sameAs.select("obj")).distinct()
      val noChains = targets.join(sameAs.select(col("subj").as("obj")), "obj").isEmpty

      // the printed vendor surface's slug, resolved through the graph's sameAs
      val surf = recs.map(r => ("invoice:" + r.docId, "vendor:" + InvoiceCorpus.slug(r.vendorSurface)))
        .toDF("subj", "surf")
      val resolved = surf.join(sameAs.select(col("subj").as("surf"), col("obj").as("canon")), Seq("surf"), "left")
        .select(col("subj"), coalesce(col("canon"), col("surf")).as("want"))
      val vendorOk = resolved.join(g.where(col("pred") === "hasVendor").select(col("subj"), col("obj")),
          Seq("subj"), "left")
        .where(col("obj").isNull || col("obj") =!= col("want")).isEmpty

      val multi = g.where(col("pred") === "hasICE").groupBy("subj").count()
        .where(col("count") > 1).agg(count(lit(1)), max("count")).head()
      val iceOk = multi.getLong(0) == 0L

      (Seq(
        Check("doc-scoped triples == record truth", fingerprint(docGraph) == fingerprint(docTruth)),
        Check("one hasVendor and one hasClient per invoice", oneEach),
        Check("no sameAs out of vendor objects or sameAs targets", noChains),
        Check("hasVendor object is the canonical of the printed surface", vendorOk),
        Check("at most one hasICE per canonical vendor", iceOk, knownFault = true)),
        Map("ice_fault_vendors" -> multi.getLong(0).toDouble,
          "ice_fault_max_ices" -> (if (multi.isNullAt(1)) 0.0 else multi.getLong(1).toDouble)))
    }

    override def record(r: Round): Map[String, Double] = r.context + ("docs" -> n.toDouble)

    /** `Pipeline.run(docs).count()` on the same docs (warm): the in-memory
      * graph without the store write, for the gap to runResumable. */
    override def traceExtras(): Map[String, Double] =
      Map("pipeline_run_count_s" -> time(Pipeline.run(docs, cfg).count())._2)
  }

  // ======================================================================
  // serve_increment_lookup
  // ======================================================================

  /** A served store: set-up builds a gazetteer base store; each round
    * applies `runIncremental` increments over disjoint doc ranges to a
    * copy of it, compacts it once, and issues seeded point lookups of
    * invoices back to back (one closed-loop caller). */
  final class Serve(spark: SparkSession, o: Opts, tr: Tracer) extends Workload {
    val nBase: Long = if (o.tiny) 300L else 5000L
    val incDocs: Long = if (o.tiny) 50L else 500L
    val nIncrements = 2
    val nLookups: Int = if (o.tiny) 10 else 100
    val nTotal: Long = nBase + nIncrements * incDocs
    private val baseDocs = o.work.resolve("base_docs")
    private val baseStore = o.work.resolve("base_store")
    private def incDir(j: Int) = o.work.resolve(s"inc_docs_$j")
    private var lookupIds: Seq[Long] = Nil
    private var truth: Map[Long, Set[(String, String, String)]] = Map.empty

    def generate(): Unit = {
      writeDocs(spark, 0, nBase, o.seed, 0, baseDocs)
      (0 until nIncrements).foreach { j =>
        writeDocs(spark, nBase + j * incDocs, nBase + (j + 1) * incDocs, o.seed, 0, incDir(j))
      }
    }

    /** Builds the base store and draws the lookups with their truth. */
    override def prepare(): Unit = {
      deleteTree(baseStore)
      Pipeline.runResumable(spark, spark.read.parquet(baseDocs.toString), baseStore.toString, 8)
      val rng = new scala.util.Random(o.seed)
      lookupIds = Seq.fill(nLookups)((rng.nextDouble() * nTotal).toLong)
      truth = lookupIds.distinct.map(i => i -> invoiceTruth(InvoiceCorpus.record(i, o.seed, NoiseP))).toMap
    }

    def round(r: Int): Round = {
      val root = o.work.resolve(s"serve_$r")
      copyTree(baseStore, root)
      val store = root.toString
      val incS = (0 until nIncrements).map { j =>
        time(tr.span("run.increment") {
          Pipeline.runIncremental(spark, spark.read.parquet(incDir(j).toString), store)
        })._2
      }
      val compactS = time(tr.span("graph.compact")(TripleStore.compact(spark, store)))._2
      val lookups = lookupIds.map { i =>
        val subj = "invoice:" + InvoiceCorpus.record(i, o.seed, NoiseP).docId
        val (rows, t) = time(tr.span("graph.lookup") {
          val rs = Pipeline.lookupSubjects(spark, store, Seq(subj)).collect(); tr.rows(rs.length); rs
        })
        (t, rows.map(x => (x.getString(0), x.getString(1), x.getString(2))).toSet == truth(i))
      }
      val bytes = dirBytes(root).toDouble
      val graph = tr.span("graph.read") {
        val g = Pipeline.readGraph(spark, store).persist(); tr.rows(g.count()); g
      }
      val graphOk = try fingerprint(graph) == fingerprint(
        InvoiceCorpus.expectedTriples(spark, nTotal, o.seed, NoiseP).toDF())
      finally graph.unpersist()
      deleteTree(root)
      val lookupMs = lookups.map(_._1 * 1000)
      Round.of(incS.sum + compactS + lookups.map(_._1).sum,
        Map("increments" -> (nIncrements.toLong, 0L), "compactions" -> (1L, 0L)),
        lookups.map(l => Check("lookup rows == record truth", l._2, kind = "lookups")) :+
          Check("graph == expectedTriples(base + increments)", graphOk), Map(
        "increment_s" -> median(incS), "compact_s" -> compactS,
        "lookup_p50_ms" -> median(lookupMs), "lookup_p90_ms" -> percentile(lookupMs, 90),
        "store_bytes" -> bytes))
    }

    override def record(r: Round): Map[String, Double] = r.context ++
      Map("lookups_per_round" -> nLookups.toDouble, "base_docs" -> nBase.toDouble,
        "increment_docs" -> incDocs.toDouble)
  }
}
