package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Pipeline
import graft.ingest.Readers
import graft.model.JsonSchema
import graft.ops.{Corpus, Curate, Dedup, Evolution, Extract, InferSchema, TextAnalysis, Validate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Random

private final case class TextBatch(path: String, csv: Boolean, records: Long, lines: Seq[String])
private final case class RaggedBatch(path: String, keys: Seq[Seq[String]])

/** Reads and checks shared by both ingest workloads. */
private object IngestCommon {
  /** Repetitions of the read side per round: one read is a few short
    * collects, so a round times several to give a steady median. */
  val readsPerRound = 4

  /** The browse reads, collected: latest 50 records, schema history and the
    * change log (reference `app.py:155-173`). */
  def readBack(ctx: Ctx, corpus: String): (Array[Row], Array[Row], Array[Row]) =
    (Corpus.latestRecords(ctx.spark, corpus, 50).collect(),
      Corpus.schemaHistory(ctx.spark, corpus).collect(),
      Corpus.schemaChanges(ctx.spark, corpus).collect())

  /** Parquet data files and their bytes under the corpus's record store. */
  def recordFiles(corpus: String): (Long, Long) = {
    val dir = Path.of(corpus, "records")
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
      (files.size.toLong, files.map(Files.size).sum)
    }
  }

  /** Checks shared by both ingest workloads: ids are unique, batch k's ids
    * all lie above batch k-1's, each batch stored its record count, and the
    * latest-50 read returns the 50 highest ids. `highWater(k)` is the
    * corpus's max id after batch k. Returns batch index per record id. */
  def checkIds(rec: Recorder, ids: Seq[Long], counts: Seq[Long], highWater: Seq[Long],
               latest: Array[Row]): Map[Long, Int] = {
    rec.check(ids.distinct.size == ids.size, s"${ids.size - ids.distinct.size} duplicate ids")
    val bounds = -1L +: highWater
    val batchOf = ids.map(id => id -> (bounds.lastIndexWhere(_ < id) max 0)).toMap
    val perBatch = batchOf.values.groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    counts.indices.foreach { k =>
      rec.check(perBatch.getOrElse(k, 0L) == counts(k),
        s"batch $k stored ${perBatch.getOrElse(k, 0L)} records in its id range, expected ${counts(k)}")
    }
    rec.check(highWater == highWater.sorted && highWater.distinct.size == highWater.size,
      s"id high-water marks do not ascend across batches: $highWater")
    val top = ids.sorted(Ordering[Long].reverse).take(50)
    rec.check(latest.map(_.getLong(0)).toSeq == top, "latestRecords(50) is not the 50 highest ids")
    batchOf
  }

  /** The round's browse reads, each timed (and, traced, spanned under
    * `corpus_read`); returns the last latest-50 result. */
  def readRound(ctx: Ctx, rec: Recorder, corpus: String, tr: Option[Tracer] = None): Array[Row] = {
    var latest = Array.empty[Row]
    (1 to readsPerRound).foreach { _ =>
      val r = tr match {
        case Some(t) =>
          val (r, s) = t.span("corpus_read")(rec.read(readBack(ctx, corpus)))
          t.add("corpus_read", s)
          r
        case None => rec.read(readBack(ctx, corpus))
      }
      r.foreach(x => latest = x._1)
    }
    latest
  }

  /** The work counts of a traced round's corpus. */
  def countCorpus(ctx: Ctx, tr: Tracer, corpus: String): Unit = {
    val (files, bytes) = recordFiles(corpus)
    tr.count("corpus_write.files", files)
    tr.count("corpus_write.bytes", bytes)
    tr.count("evolution.versions", new Evolution(ctx.spark, corpus).latestVersion)
  }
}

/** Bulk scraped-text ingest: six TXT batches through `Pipeline.ingest`
  * into one corpus, with one customer CSV batch in the middle, so the schema
  * switches format twice. */
final class TextIngest(ctx: Ctx) extends Workload {
  import IngestCommon._
  private val spark = ctx.spark
  private val textBatches = 6
  private val linesPerBatch = 4000
  private val csvRows = 2000
  private val csvAt = textBatches / 2

  private var batches: Seq[TextBatch] = Nil
  private val mapper = new ObjectMapper()
  private def stringSeq(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  def generate(): Unit = {
    val r = new Random(ctx.seed)
    val dir = Files.createDirectories(ctx.work.resolve("input"))
    val text = (0 until textBatches).map { k =>
      val lines = Seq.fill(linesPerBatch)(Gen.textLine(r))
      val path = dir.resolve(f"text-$k%02d.txt")
      Files.write(path, lines.mkString("", "\n", "\n").getBytes(UTF_8))
      val kept = lines.filter(_.trim.nonEmpty)
      TextBatch(path.toString, csv = false, kept.size, kept)
    }
    val rows = (1 to csvRows).map(i => Gen.csvRow(r, i).mkString(","))
    val csvPath = dir.resolve("customers.csv")
    Files.write(csvPath, (Gen.csvHeader.mkString(",") +: rows).mkString("", "\n", "\n").getBytes(UTF_8))
    val csv = TextBatch(csvPath.toString, csv = true, csvRows, Nil)
    batches = (text.take(csvAt) :+ csv) ++ text.drop(csvAt)
  }

  private def read(b: TextBatch): DataFrame =
    if (b.csv) Readers.csv(spark, b.path) else Readers.txt(spark, b.path)

  /** The first text batches and the CSV batch, and one read, on a
    * throwaway corpus: both readers and both schema switches' code paths. */
  def warmup(): Unit = {
    val corpus = ctx.fresh("warmup")
    batches.take(csvAt + 1).foreach(b => Pipeline.ingest(spark, read(b), corpus))
    readBack(ctx, corpus)
    ctx.delete(corpus)
  }

  def round(rec: Recorder, check: Boolean): Unit = {
    val corpus = ctx.fresh("corpus")
    val hw = batches.map { b =>
      val res = rec.op(b.records)(Pipeline.ingest(spark, read(b), corpus))
      (res, Corpus.maxId(spark, corpus))
    }
    val latest = readRound(ctx, rec, corpus)
    val inputBytes = batches.map(b => Files.size(Path.of(b.path))).sum
    rec.outPerIn += ctx.bytesUnder(corpus).toDouble / inputBytes
    if (check) rec.verify(verify(rec, corpus, hw.map(_._1.map(_.version)), hw.map(_._2), latest))
    ctx.delete(corpus)
  }

  /** Versions: 1 for the text batches before the CSV batch, 2 for the CSV
    * batch, 3 after it. */
  private def expectedVersion(k: Int): Int = if (k < csvAt) 1 else if (k == csvAt) 2 else 3

  private def verify(rec: Recorder, corpus: String, versions: Seq[Option[Int]],
                     highWater: Seq[Long], latest: Array[Row]): Unit = {
    batches.indices.foreach(k => rec.check(versions(k).contains(expectedVersion(k)),
      s"batch $k got version ${versions(k)}, expected ${expectedVersion(k)}"))
    val rows = Corpus.records(spark, corpus).select("id", "data", "schema_version").collect()
    val ids = rows.map(_.getLong(0)).toSeq
    rec.check(ids.size == batches.map(_.records).sum,
      s"corpus holds ${ids.size} records, generated ${batches.map(_.records).sum}")
    val batchOf = checkIds(rec, ids, batches.map(_.records), highWater, latest)
    val contents = Array.fill(batches.size)(Seq.newBuilder[String])
    var patternMismatch = 0
    rows.foreach { row =>
      val k = batchOf(row.getLong(0))
      val blob = mapper.readTree(row.getString(1))
      val content = Option(blob.get("content")).filterNot(_.isNull).map(_.asText)
      content.foreach(contents(k) += _)
      val p = blob.get("_extracted_patterns")
      val got = Extractor.Patterns(stringSeq(p.get("emails")), stringSeq(p.get("phones")),
        stringSeq(p.get("dates")), stringSeq(p.get("numbers")))
      if (got != Extractor.extract(content)) {
        if (patternMismatch == 0)
          System.err.println(s"perfbench: patterns of ${content.orNull}: got $got, " +
            s"expected ${Extractor.extract(content)}")
        patternMismatch += 1
      }
      rec.check(row.getInt(2) == expectedVersion(k), s"record ${row.getLong(0)} has version ${row.getInt(2)}")
    }
    rec.check(patternMismatch == 0, s"$patternMismatch records' _extracted_patterns differ from the reference")
    batches.indices.foreach { k =>
      rec.check(contents(k).result().sorted == batches(k).lines.sorted,
        s"batch $k: stored content differs from the generated non-blank lines")
    }
    val history = Corpus.schemaHistory(spark, corpus).collect().map(_.getInt(0)).toSeq
    rec.check(history == Seq(1, 2, 3), s"schema history versions $history")
    val csvFields = Gen.csvHeader.sorted
    val expectedChanges = Set((1, 2, csvFields, Seq("content")), (2, 3, Seq("content"), csvFields))
    val changes = Corpus.schemaChanges(spark, corpus).collect().map(r =>
      (r.getInt(1), r.getInt(2), r.getSeq[String](3).toSeq, r.getSeq[String](4).toSeq)).toSet
    rec.check(changes == expectedChanges, s"change log $changes")
  }

  def tracedRound(tr: Tracer, rec: Recorder, check: Boolean): Unit = {
    val corpus = ctx.fresh("corpus")
    val viaPipeline = ctx.fresh("corpus")
    val par = spark.sparkContext.defaultParallelism
    val hw = batches.map { b =>
      // readers -> extract -> validate, each prefix written to the no-op
      // sink; a layer's cost is its prefix's cost minus the previous one.
      // The read includes Pipeline.ingest's repartition of a narrow batch.
      val (raw, readS) = tr.span("readers") {
        val df = read(b)
        val spread = if (df.rdd.getNumPartitions * 4 <= par) df.repartition(par) else df
        spread.write.format("noop").mode("overwrite").save()
        spread
      }
      tr.add("readers", readS)
      val withPatterns = Extract.withExtractedPatterns(raw)
      val extractS = tr.noop("extract", withPatterns)
      tr.add("extract", extractS - readS)
      val (schema, inferS) = tr.span("infer") {
        val cols = withPatterns.columns
        JsonSchema(cols.map(_ -> "string").toMap, cols.sorted.toSeq)
      }
      tr.add("infer", inferS)
      val (version, evoS) = tr.span("evolution")(
        rec.op(0)(new Evolution(spark, corpus).evolve(schema, schema.fieldNames)))
      tr.add("evolution", evoS)
      val validated = withPatterns.withColumn("_quality_issues", array().cast("array<string>"))
      val validateS = tr.noop("validate", validated)
      tr.add("validate", validateS - extractS)
      val (_, writeS) = tr.span("corpus_write") {
        rec.op(b.records) {
          val idBase = Corpus.maxId(spark, corpus) + 1L
          Corpus.append(Corpus.stampAndSerialize(validated, version.getOrElse(0),
            idBase = idBase, native = true), corpus)
        }
      }
      tr.add("corpus_write", writeS - validateS)
      val (_, pipeS) = tr.span("pipeline")(rec.op(b.records)(Pipeline.ingest(spark, read(b), viaPipeline)))
      tr.addPipeline(pipeS)
      (version, Corpus.maxId(spark, corpus))
    }
    countCorpus(ctx, tr, corpus)
    val latest = readRound(ctx, rec, corpus, Some(tr))
    if (check) rec.verify(verify(rec, corpus, hw.map(_._1), hw.map(_._2), latest))
    ctx.delete(corpus)
    ctx.delete(viaPipeline)
  }
}

/** Small ragged-JSON batches through `Pipeline.ingestJson`, then the
  * browse reads over the small files they appended. */
final class RaggedIngest(ctx: Ctx) extends Workload {
  import IngestCommon._
  private val spark = ctx.spark
  private val nBatches = 8
  private val recordsPerBatch = 1000
  private val epochLength = 2 // batches per key-set drift

  private var batches: Seq[RaggedBatch] = Nil
  private var expected: Seq[RaggedModel.Expected] = Nil

  private def rid(batch: Int, i: Int): Long = batch * 1000000L + i

  def generate(): Unit = {
    val r = new Random(ctx.seed)
    val dir = Files.createDirectories(ctx.work.resolve("input"))
    var epoch: Seq[String] = Nil
    batches = (0 until nBatches).map { b =>
      if (b % epochLength == 0) epoch = Gen.epochKeys(r)
      val recs = (0 until recordsPerBatch).map(i => Gen.raggedRecord(r, rid(b, i), epoch))
      val path = dir.resolve(f"ragged-$b%03d.jsonl")
      Files.write(path, recs.map(_._2).mkString("", "\n", "\n").getBytes(UTF_8))
      RaggedBatch(path.toString, recs.map(_._1))
    }
    expected = RaggedModel.expect(batches.map(_.keys))
  }

  private def read(b: RaggedBatch): DataFrame = Readers.txt(spark, b.path)

  /** Half the batches and one read, on a throwaway corpus. */
  def warmup(): Unit = {
    val corpus = ctx.fresh("warmup")
    batches.take(nBatches / 2).foreach(b => Pipeline.ingestJson(spark, read(b), "content", corpus))
    readBack(ctx, corpus)
    ctx.delete(corpus)
  }

  def round(rec: Recorder, check: Boolean): Unit = {
    val corpus = ctx.fresh("corpus")
    val results = batches.map { b =>
      val res = rec.op(b.keys.size)(Pipeline.ingestJson(spark, read(b), "content", corpus))
      (res, Corpus.maxId(spark, corpus))
    }
    val latest = readRound(ctx, rec, corpus)
    val inputBytes = batches.map(b => Files.size(Path.of(b.path))).sum
    rec.outPerIn += ctx.bytesUnder(corpus).toDouble / inputBytes
    if (check) rec.verify {
      results.map(_._1).zip(expected).zipWithIndex.foreach { case ((res, exp), k) =>
        val got = res.map(r => (r.schema.properties.keySet, r.schema.required, r.version, r.flaggedCount))
        val want = (exp.properties, exp.required, exp.version,
          batches(k).keys.count(keys => RaggedModel.issues(keys, exp.properties).nonEmpty).toLong)
        rec.check(got.contains(want), s"batch $k: (properties, required, version, flagged) $got, expected $want")
      }
      verify(rec, corpus, results.map(_._2), latest)
    }
    ctx.delete(corpus)
  }

  private def verify(rec: Recorder, corpus: String, highWater: Seq[Long], latest: Array[Row]): Unit = {
    val rows = Corpus.records(spark, corpus)
      .select(col("id"), get_json_object(col("data"), "$.rid").cast("long"),
        col("quality_issues"), col("schema_version"))
      .collect()
    val ids = rows.map(_.getLong(0)).toSeq
    val batchOf = checkIds(rec, ids, batches.map(_.keys.size.toLong), highWater, latest)
    var wrong = 0
    rows.foreach { row =>
      val r = row.getLong(1)
      val (b, i) = ((r / 1000000L).toInt, (r % 1000000L).toInt)
      val exp = expected(b)
      val issues = Option(row.getSeq[String](2)).map(_.toSeq).getOrElse(Nil)
      val ok = b == batchOf(row.getLong(0)) && row.getInt(3) == exp.version &&
        issues == RaggedModel.issues(batches(b).keys(i), exp.properties)
      if (!ok && wrong == 0)
        System.err.println(s"perfbench: record rid=$r: issues $issues, version ${row.getInt(3)}")
      if (!ok) wrong += 1
    }
    rec.check(wrong == 0, s"$wrong records have wrong issues, version or batch")
    val changes = Corpus.schemaChanges(spark, corpus).collect().map(r =>
      (r.getInt(1), r.getInt(2), r.getSeq[String](3).toSeq, r.getSeq[String](4).toSeq)).toSet
    val want = expected.collect { case RaggedModel.Expected(_, _, v, Some((add, rem))) =>
      (v - 1, v, add, rem) }.toSet
    rec.check(changes == want, s"change log $changes, expected $want")
  }

  def tracedRound(tr: Tracer, rec: Recorder, check: Boolean): Unit = {
    val corpus = ctx.fresh("corpus")
    val viaPipeline = ctx.fresh("corpus")
    val highWater = batches.map { b =>
      // Mirrors Pipeline.ingestJson: the batch is cached once, then
      // inference and validation read the cache.
      val asJson = read(b).withColumnRenamed("content", "data").persist(StorageLevel.MEMORY_AND_DISK)
      tr.add("readers", tr.noop("readers", asJson))
      val cachedS = tr.noop("cached", asJson)
      val (schema, inferS) = tr.span("infer")(rec.op(0)(InferSchema.infer(asJson, "data").get))
      tr.add("infer", inferS)
      val (version, evoS) = tr.span("evolution")(
        rec.op(0)(new Evolution(spark, corpus).evolve(schema.get, schema.get.fieldNames)))
      tr.add("evolution", evoS)
      val validated = Validate.withQualityIssues(asJson, schema.get, "data")
      val validateS = tr.noop("validate", validated)
      tr.add("validate", validateS - cachedS)
      val obs = new Observation()
      val (_, writeS) = tr.span("corpus_write") {
        rec.op(b.keys.size) {
          val observed = validated.observe(obs, count(when(size(col("_quality_issues")) > 0, 1)).as("flagged"))
          val idBase = Corpus.maxId(spark, corpus) + 1L
          Corpus.append(Corpus.stampAndSerializeJson(observed, version.getOrElse(0), idBase = idBase), corpus)
        }
      }
      tr.add("corpus_write", writeS - validateS)
      tr.count("validate.flagged", obs.get("flagged").asInstanceOf[Long])
      asJson.unpersist(blocking = true)
      val (_, pipeS) = tr.span("pipeline")(rec.op(b.keys.size)(
        Pipeline.ingestJson(spark, read(b), "content", viaPipeline)))
      tr.addPipeline(pipeS)
      Corpus.maxId(spark, corpus)
    }
    countCorpus(ctx, tr, corpus)
    val latest = readRound(ctx, rec, corpus, Some(tr))
    if (check) rec.verify(verify(rec, corpus, highWater, latest))
    ctx.delete(corpus)
    ctx.delete(viaPipeline)
  }
}

/** Near-duplicate curation: `Curate.curateCorpus` over one generated
  * multilingual corpus with planted near-duplicate clusters and planted
  * low-quality documents; each result is written to parquet and read back
  * with `curationSummary`. */
final class CurateNeardup(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val nDocs = 3000
  private val minQuality = 0.5
  private val dupThreshold = 0.8
  private val readsPerRound = 8

  private var planted: CurateCheck.Planted = _
  private var gatedIds = Set.empty[Long]
  private var survivorIds = Set.empty[Long]
  private var budget = 0L
  private var input = ""
  private var inputBytes = 0L

  def generate(): Unit = {
    val r = new Random(ctx.seed)
    val voc = Gen.vocab(r)
    val docs = Seq.newBuilder[(String, Vector[String], Int)] // (lang, tokens, cluster or -1/-2)
    var n = 0
    var cluster = 0
    while (n < nDocs) {
      val lang = Gen.langs(r.nextInt(Gen.langs.size))
      r.nextInt(100) match {
        case x if x < 3 => docs += ((lang, Gen.junk(r), -2)); n += 1
        case x if x < 8 =>
          // a planted cluster: the original, 1-3 variants, now and then an exact copy
          val base = Gen.document(r, lang, voc)
          val members = base +: Vector.fill(1 + r.nextInt(3))(
            if (r.nextInt(10) == 0) base else Gen.variant(r, base, lang, voc))
          members.foreach(m => docs += ((lang, m, cluster)))
          cluster += 1; n += members.size
        case _ => docs += ((lang, Gen.document(r, lang, voc), -1)); n += 1
      }
    }
    val all = docs.result()
    val ids = r.shuffle((1L to all.size.toLong).toVector)
    val withIds = ids.zip(all)
    planted = CurateCheck.Planted(
      tokens = withIds.map { case (id, (_, toks, _)) => id -> toks.size }.toMap,
      lang = withIds.map { case (id, (l, _, _)) => id -> l }.toMap,
      clusters = withIds.filter(_._2._3 >= 0).groupBy(_._2._3).values.map(_.map(_._1)).toSeq,
      lowQuality = withIds.filter(_._2._3 == -2).map(_._1).toSet)
    // Budget: about 40% of a language's tokens.
    budget = (all.map(_._2.size.toLong).sum * 0.4 / Gen.langs.size).toLong
    input = ctx.work.resolve("input").toString
    import spark.implicits._
    withIds.map { case (id, (l, toks, _)) => (id, l, toks.mkString(" ")) }
      .toDF("id", "lang", "text").repartition(ctx.cores).write.parquet(input)
    inputBytes = ctx.bytesUnder(input)
  }

  private def corpus: DataFrame = spark.read.parquet(input)

  private def curate(): DataFrame =
    Curate.curateCorpus(corpus, "id", "text", "lang", minQuality, dupThreshold, budget)

  /** The chain's gate and dedup layers over the corpus, their result
    * written to parquet and summarized twice, all on throwaway output: this
    * warms the code every curation and its read-back run, and yields the ids
    * past the gate and the dedup survivors a round's result is checked
    * against. */
  def warmup(): Unit = {
    val gated = TextAnalysis.withQualityFeatures(corpus, "text")
      .filter(col("quality_score") >= minQuality)
    gatedIds = gated.select("id").collect().map(_.getLong(0)).toSet
    val out = ctx.fresh("warmup")
    Dedup.dropNearDuplicates(gated, "id", "text", dupThreshold).write.parquet(out)
    survivorIds = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSet
    (1 to 2).foreach(_ => Curate.curationSummary(spark.read.parquet(out), "lang").collect())
    ctx.delete(out)
  }

  def round(rec: Recorder, check: Boolean): Unit = {
    val out = ctx.fresh("curated")
    rec.op(nDocs)(curate().write.parquet(out))
    val summaries = (1 to readsPerRound).flatMap(_ =>
      rec.read(Curate.curationSummary(spark.read.parquet(out), "lang").collect()))
    rec.outPerIn += ctx.bytesUnder(out).toDouble / inputBytes
    if (check) rec.verify(verify(rec, out, gatedIds, survivorIds, summaries.lastOption))
    ctx.delete(out)
  }

  private def verify(rec: Recorder, out: String, gated: Set[Long], survivors: Set[Long],
                     summary: Option[Array[Row]]): Unit = {
    val kept = spark.read.parquet(out).select("id", "lang", "q_n_tokens").collect()
    val keptIds = kept.map(_.getLong(0)).toSet
    CurateCheck.check(planted, gated, survivors, keptIds, budget).foreach(rec.check(false, _))
    rec.check(kept.forall(r => r.getInt(2) == planted.tokens(r.getLong(0))),
      "q_n_tokens differs from the generated token count")
    val want = kept.groupBy(_.getString(1)).map { case (l, rs) =>
      (l, rs.length.toLong, rs.map(_.getInt(2).toLong).sum) }.toSet
    val got = summary.map(_.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet)
    rec.check(got.contains(want), s"curationSummary $got, expected $want")
  }

  def tracedRound(tr: Tracer, rec: Recorder, check: Boolean): Unit = {
    // Curate.curateCorpus's own composition: the gated set is cached, dedup
    // runs eagerly over it, and the budget cut follows.
    val gated = TextAnalysis.withQualityFeatures(corpus, "text")
      .filter(col("quality_score") >= minQuality)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val gateS = tr.noop("gate", gated)
    tr.add("gate", gateS)
    val (deduped, dedupS) = tr.span("dedup")(rec.op(0)(
      Dedup.dropNearDuplicates(gated, "id", "text", dupThreshold).localCheckpoint()))
    tr.add("dedup", dedupS)
    val gatedIds = gated.select("id").collect().map(_.getLong(0)).toSet
    val survivors = deduped.map(_.select("id").collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)
    tr.count("dedup.dropped", gatedIds.size - survivors.size)
    gated.unpersist(blocking = true)
    val out = ctx.fresh("curated")
    val (_, curateS) = tr.span("curate")(rec.op(nDocs)(curate().write.parquet(out)))
    tr.add("budget", curateS - gateS - dedupS)
    tr.count("budget.kept", spark.read.parquet(out).count())
    val summaries = (1 to readsPerRound).flatMap(_ =>
      rec.read(Curate.curationSummary(spark.read.parquet(out), "lang").collect()))
    if (check) rec.verify(verify(rec, out, gatedIds, survivors, summaries.lastOption))
    ctx.delete(out)
  }
}
