package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.util.zip.GZIPInputStream

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.index._
import graft.kmers.Dna
import graft.sources.Sequences
import graft.taxa.{LcaResolver, Sentinels}

/** Layer probes of the traced run: each times one public graft call from
  * outside the program, on the workload's own inputs, after the timed ops
  * (warm session). Spans land in [[Trace]]; scalar results go to `emit`.
  * Every probe runs in its own span, so the Spark totals of the span are
  * that call's alone. */
object Layers {
  private val Lvl = StorageLevel.MEMORY_AND_DISK
  /** Reads (and output hit lists) the Spark-free kernel probes run over. */
  private val KernelReads = 20000

  def run(kind: String, p: Map[String, String], emit: (String, Double) => Unit): Unit =
    kind match {
      case "genomic" => genomic(p, emit)
      case "cold" => cold(p, emit)
      case "curate" => curate(p, emit)
      case other => sys.error(s"unknown probe: $other")
    }

  private def seconds[T](name: String, emit: (String, Double) => Unit)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = Trace.span(name)(body)
    emit(name, (System.nanoTime() - t0) / 1e9)
    r
  }

  /** Spark totals of the most recent span with this name. */
  private def sparkOfLast(name: String): Map[String, Double] = {
    Trace.settle()
    Trace.all.reverse.find(_.name == name).map(Trace.sparkTree).getOrElse(Map.empty)
  }

  private def openIndex(spark: SparkSession, idx: String,
      bcTax: org.apache.spark.broadcast.Broadcast[graft.taxa.Taxonomy])
      : (IndexParams, LongKeyIndex, DataFrame) = {
    val params = IndexParams.read(spark, idx)
    if (params.m > 32) {
      val w = new WideMinimizerIndex(params.k, params.m, bcTax, params.spaces,
        params.demoted.getOrElse(Array.emptyLongArray))
      (params, w, w.loadRecords(spark, idx, params.buckets))
    } else (params, new MinimizerIndex(params, bcTax),
      MinimizerIndex.loadRecords(spark, idx, params.buckets))
  }

  private def library(spark: SparkSession, lib: String, labels: String): Dataset[(Int, String)] = {
    import spark.implicits._
    Sequences.fasta(spark, lib).toDF("header", "location", "nucleotides", "nucleotides2")
      .join(Sequences.labels(spark, labels), "header")
      .select(col("taxon"), col("nucleotides")).as[(Int, String)]
  }

  /** Per-read hit lists from a classify output directory (gzip text). */
  private def sampleHits(dir: String, limit: Int): Vector[Seq[(Int, Int)]] = {
    val files = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.isDirectory).flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(_.getName.endsWith(".gz")).sortBy(_.getPath)
    val out = Vector.newBuilder[Seq[(Int, Int)]]
    var n = 0
    for (f <- files if n < limit) {
      val r = new BufferedReader(new InputStreamReader(
        new GZIPInputStream(new java.io.FileInputStream(f)), "UTF-8"))
      try {
        var line = r.readLine()
        while (line != null && n < limit) {
          val hits = line.split("\t")(4).split(" ").toSeq.filter(_.nonEmpty).map { h =>
            val i = h.lastIndexOf(':')
            val t = h.take(i) match {
              case "A" => Sentinels.AMBIGUOUS_SPAN
              case "|" => Sentinels.MATE_PAIR_BORDER
              case x => x.toInt
            }
            (t, h.drop(i + 1) match { case "|" => 0; case c => c.toInt })
          }
          out += hits; n += 1
          line = r.readLine()
        }
      } finally r.close()
    }
    out.result()
  }

  /** Spark-free kernel timing on one driver thread: repeat `pass` over the
    * sample until at least `minS` seconds have passed; ns per base. */
  private def kernelNsPerBase(bases: Long, minS: Double = 0.3)(pass: => Long): (Double, Long) = {
    var reps = 0
    var sink = 0L
    val t0 = System.nanoTime()
    while (reps < 2 || (System.nanoTime() - t0) / 1e9 < minS) { sink += pass; reps += 1 }
    ((System.nanoTime() - t0).toDouble / (reps.toLong * bases), sink / reps)
  }

  private def genomic(p: Map[String, String], emit: (String, Double) => Unit): Unit = {
    val spark = Harness.activeSpark
    import spark.implicits._
    val tax = seconds("taxa.load_s", emit)(graft.Main.loadTaxonomy(spark, p("idx") + "/taxonomy"))
    val bcTax = spark.sparkContext.broadcast(tax)
    seconds("sources.library_s", emit)(Sequences.fasta(spark, p("lib")).count())
    val reads = Sequences.forFile(spark, p("reads")).persist(Lvl)
    val t0 = System.nanoTime()
    val nBases = seconds("sources.reads_s", emit) {
      reads.map(_.nucleotides.length.toLong).reduce(_ + _)
    }
    emit("sources.reads_mbp_per_s", nBases / 1e6 / ((System.nanoTime() - t0) / 1e9))

    val (params, index, records) = seconds("index.open_s", emit) {
      val (pr, ix, rec) = openIndex(spark, p("idx"), bcTax)
      rec.persist(Lvl)
      emit("index.records", rec.count().toDouble)
      (pr, ix, rec)
    }

    // build pieces on a fresh copy: ordering, records, write
    val packed = index.packLibrary(library(spark, p("lib"), p("labels"))).persist(Lvl)
    packed.count()
    val built =
      if (params.demoted.isDefined && params.m > 32) {
        val demoted = seconds("index.freq_order_s", emit)(
          FrequencyOrdering.topMers(packed, params.m, 0.2, 4096, 42L))
        new WideMinimizerIndex(params.k, params.m, bcTax, params.spaces, demoted)
      } else { emit("index.freq_order_s", 0.0); index }
    val rebuilt = seconds("index.build_s", emit) {
      val r = built.makeRecordsPacked(packed).persist(Lvl); r.count(); r
    }
    seconds("index.write_s", emit)(built.writeRecords(rebuilt, p("out") + "/idx_copy", params.buckets))
    rebuilt.unpersist(); packed.unpersist()

    // classify pieces on cached reads
    val (classified, closeTable) = if (p("mem") == "true") {
      val mem = seconds("index.table_s", emit)(index.inMemoryClassifier(records))
      emit("index.table_bytes", mem.tableBytes.toDouble)
      emit("index.spans_s", 0.0)
      val c = seconds("index.classify_s", emit) {
        val c = mem.classify(reads, 0.0, 2).persist(Lvl); c.count(); c
      }
      (c, () => mem.close())
    } else {
      emit("index.table_s", 0.0); emit("index.table_bytes", 0.0)
      val spans = seconds("index.spans_s", emit) {
        val s = index.spansDF(reads).persist(Lvl); s.count(); s
      }
      val c = seconds("index.classify_s", emit) {
        val c = index.classifyDF(spans, records, 0.0, 2).persist(Lvl); c.count(); c
      }
      (c, () => spans.unpersist())
    }
    val cls = sparkOfLast("index.classify_s")
    emit("index.classify_shuffle_bytes",
      cls.getOrElse("spark.shuffle_read_bytes", 0.0) + cls.getOrElse("spark.shuffle_write_bytes", 0.0))
    seconds("index.output_s", emit) {
      IndexOps.writePerSampleOutput(classified, Some(p("regex")), p("out") + "/cls")
      IndexOps.writePerSampleReports(classified, p("regex"), p("out") + "/cls_reports", bcTax)
      ClassifyKernel.report(classified, bcTax)
    }
    classified.unpersist(); closeTable(); records.unpersist()

    // Spark-free kernels over a sample of the workload's own reads
    val sample = reads.limit(KernelReads).collect()
    reads.unpersist()
    val seqs = sample.map(_.nucleotides)
    val bases = seqs.map(_.length.toLong).sum
    Trace.span("kmers") {
      emit("kmers.encode_ns_per_base",
        kernelNsPerBase(bases)(seqs.map(s => Dna.pack2bit(s).length.toLong).sum)._1)
      val scan: String => Int = index match {
        case n: MinimizerIndex => val sc = n.paramsOf.scanner; s => sc.scan(s).size
        case w: WideMinimizerIndex => s => w.scanner.scan(s).size
      }
      val (scanNs, supermers) = kernelNsPerBase(bases)(seqs.map(s => scan(s).toLong).sum)
      emit("kmers.scan_ns_per_base", scanNs)
      emit("kmers.supermers_per_kbase", supermers * 1000.0 / bases)
      emit("kmers.spans_ns_per_base",
        kernelNsPerBase(bases)(sample.map(f => index.fragmentSpans(f).size.toLong).sum)._1)
    }

    val hits = sampleHits(p("opout"), KernelReads)
    val resolver = new LcaResolver(tax)
    Trace.span("taxa.resolve") {
      val (ns, _) = kernelNsPerBase(hits.size.toLong)(
        hits.map(h => resolver.classify(h, 0.0).toLong).sum)
      emit("taxa.resolve_ns_per_read", ns)
    }
    val probed = hits.map(_.filter(h => h._1 != Sentinels.AMBIGUOUS_SPAN &&
      h._1 != Sentinels.MATE_PAIR_BORDER).map(_._2.toLong).sum).sum
    val hit = hits.map(_.filter(_._1 > 0).map(_._2.toLong).sum).sum
    emit("index.hit_ratio", if (probed > 0) hit.toDouble / probed else 0.0)
  }

  private def cold(p: Map[String, String], emit: (String, Double) => Unit): Unit = {
    val spark = Harness.activeSpark
    val bcTax = spark.sparkContext.broadcast(graft.Main.loadTaxonomy(spark, p("idx") + "/taxonomy"))
    val pairedReads = seconds("sources.paired_s", emit) {
      val r = Sequences.paired(Sequences.forFile(spark, p("r1")),
        Sequences.forFile(spark, p("r2"))).persist(Lvl)
      r.count(); r
    }
    val (_, index, records) = openIndex(spark, p("idx"), bcTax)
    records.persist(Lvl).count()
    val lib = library(spark, p("lib"), p("labels")).persist(Lvl)
    lib.count()
    seconds("index.classify2_s", emit) {
      val (c, _, _, _, _, cleanup) = new DynamicClassifier(index, bcTax)
        .classify2Full(pairedReads, lib, records, criterion = ClassifiedReads,
          threshold = p("threshold").toLong, initConfidence = Some(0.15))
      c.count(); cleanup()
    }
    seconds("index.bracken_s", emit) {
      new Bracken(index, bcTax).weights(lib, records, readLen = 150).count()
    }
    lib.unpersist(); records.unpersist(); pairedReads.unpersist()
  }

  private def curate(p: Map[String, String], emit: (String, Double) => Unit): Unit = {
    val spark = Harness.activeSpark
    import spark.implicits._
    val docs = spark.read.parquet(p("docs"))
      .select(col("doc_id").cast("long"), col("text").cast("string"))
      .as[(Long, String)].persist(Lvl)
    emit("curate.docs_in", docs.count().toDouble)
    val gated = seconds("streaming.quality_s", emit) {
      val g = graft.streaming.StreamingDedup.qualityFilter(docs.toDF("doc_id", "text"),
          "text", minTokens = 5, maxTokens = 100000, minAlphaRatio = 0.0)
        .select(col("doc_id"), col("text")).as[(Long, String)].persist(Lvl)
      emit("curate.docs_quality", g.count().toDouble); g
    }
    val plan = graft.operators.Dedup.lshPlan(0.7, 0.99)
    val near = seconds("operators.near_dup_s", emit) {
      val d = graft.operators.Dedup.deduplicate(gated, numHashes = plan.numHashes,
        bands = plan.bands, threshold = 0.7).persist(Lvl)
      emit("curate.docs_near_dup", d.count().toDouble); d
    }
    seconds("operators.capped_s", emit) {
      graft.operators.Dedup.cappedBuckets(gated, numHashes = plan.numHashes,
        bands = plan.bands).count()
    }
    seconds("operators.span_strip_s", emit) {
      emit("curate.docs_span_strip", graft.operators.Dedup.stripSpans(near, 8).count().toDouble)
    }
    near.unpersist(); gated.unpersist(); docs.unpersist()
  }
}
