package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** A sequencing read or genome fragment.
  * @param nucleotides2 second mate of a paired-end read, if any. */
final case class InputFragment(
    header: String,
    location: Long,
    nucleotides: String,
    nucleotides2: Option[String])

/** Sequence file sources (spec: reference kmers/input/FileInputs.scala).
  * All are declarative Spark text reads — compression (gz/bz2) comes free
  * from the text source; multi-file unions are plain `unionAll`.
  */
object Sequences {

  /** Multi-line FASTA records via the ">" line-separator trick: every text row
    * is then one full record (header line + sequence lines). */
  def fasta(spark: SparkSession, path: String): Dataset[InputFragment] = {
    import spark.implicits._
    spark.read.option("lineSep", ">").text(path).as[String]
      .flatMap { rec =>
        val nl = rec.indexOf('\n')
        if (nl < 0) None
        else {
          val header = rec.substring(0, nl).trim.split(" ")(0)
          val seq = rec.substring(nl + 1).replaceAll("[\n\r]+", "")
          if (header.isEmpty || seq.isEmpty) None
          else Some(InputFragment(header, 0L, seq, None))
        }
      }
  }

  /** FASTQ 4-line records via the split-parallel [[FastqInputFormat]]: each
    * split self-syncs to the next record boundary ('@' at line 1 AND '+' at
    * line 3 — the same disambiguation rule as the reference,
    * FileInputs.scala:196-209). `location` is the record's byte offset in
    * its file.
    *
    * Splits are sized so that one read is one wave of tasks on the session's
    * cores: `split.maxsize = max(1 MiB, ceil(bytes / defaultParallelism))`,
    * where `bytes` is the total length of the files the path matches. Hadoop
    * still caps every split at the block size, so a file larger than
    * cores x block size keeps block-sized splits. The 1 MiB floor
    * ([[MinFastqSplitBytes]]) keeps small inputs in one task. A
    * `mapreduce.input.fileinputformat.split.maxsize` already set in the
    * Hadoop configuration wins unchanged; the rule is applied to a copy, so
    * the shared configuration is never modified. Compressed inputs (gz/bz2)
    * read as one split per file. */
  def fastq(spark: SparkSession, path: String): Dataset[InputFragment] = {
    import spark.implicits._
    import org.apache.hadoop.io.{LongWritable, Text}
    val rdd = spark.sparkContext.newAPIHadoopFile(
        path, classOf[FastqInputFormat], classOf[LongWritable], classOf[Text],
        coreSizedSplitConf(spark, path))
      // Hadoop reuses Writable instances: extract primitives immediately
      .map { case (k, v) => (k.get(), v.toString) }
      .map { case (offset, rec) =>
        val lines = rec.split('\n')
        InputFragment(lines(0).split(" ")(0).substring(1), offset,
          lines(1).trim, None)
      }
    spark.createDataset(rdd)
  }

  /** Floor of [[fastq]]'s core-sized split (~3k 150-bp records): an input
    * under cores x 1 MiB reads in fewer tasks than there are cores. */
  val MinFastqSplitBytes: Long = 1L << 20

  private val SplitMaxSizeKey = "mapreduce.input.fileinputformat.split.maxsize"

  /** A copy of the session's Hadoop configuration with [[fastq]]'s
    * core-sized `split.maxsize`, unless the caller already set one. */
  private def coreSizedSplitConf(spark: SparkSession, path: String)
      : org.apache.hadoop.conf.Configuration = {
    val shared = spark.sparkContext.hadoopConfiguration
    val conf = new org.apache.hadoop.conf.Configuration(shared)
    if (shared.get(SplitMaxSizeKey) == null) {
      val cores = spark.sparkContext.defaultParallelism
      val perCore = (inputBytes(conf, path) + cores - 1) / cores
      conf.setLong(SplitMaxSizeKey, math.max(MinFastqSplitBytes, perCore))
    }
    conf
  }

  /** Total length of the files `path` matches (a directory counts its
    * contents). A pattern that matches nothing counts 0, leaving the
    * "Input path does not exist" error to Hadoop's own listing. */
  private def inputBytes(conf: org.apache.hadoop.conf.Configuration,
      path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    Option(fs.globStatus(p)).toSeq.flatten.map { st =>
      if (st.isDirectory) fs.getContentSummary(st.getPath).getLength
      else st.getLen
    }.sum
  }

  /** Pair R1/R2 mates by header (suffixes /1 /2 stripped); the paired
    * fragment keeps R1's byte location, so downstream provenance (which
    * split/record produced a read) survives pairing
    * (spec: reference kmers/input/InputReader.scala:109-131). */
  def paired(r1: Dataset[InputFragment], r2: Dataset[InputFragment]): Dataset[InputFragment] = {
    val spark = r1.sparkSession
    import spark.implicits._
    val r1c = r1.map(f => (f.header.replaceAll("/[12]$", ""), f.nucleotides, f.location))
      .toDF("header", "nt1", "location")
    val r2c = r2.map(f => (f.header.replaceAll("/[12]$", ""), f.nucleotides))
      .toDF("header", "nt2")
    r1c.join(r2c, "header")
      .select(col("header"), col("nt1"), col("location"), col("nt2"))
      .as[(String, String, Long, String)]
      .map { case (h, nt1, loc, nt2) => InputFragment(h, loc, nt1, Some(nt2)) }
  }

  /** Classify reads already held in a DataFrame (API mode): `header`,
    * `nucleotides`, optional `nucleotides2` columns. */
  def fromDataFrame(df: DataFrame): Dataset[InputFragment] = {
    val spark = df.sparkSession
    import spark.implicits._
    val withMate =
      if (df.columns.contains("nucleotides2")) df
      else df.withColumn("nucleotides2", lit(null).cast("string"))
    withMate
      .withColumn("location", lit(0L))
      .select("header", "location", "nucleotides", "nucleotides2")
      .as[InputFragment]
  }

  /** Expand @list.txt arguments: a file of file names
    * (spec: S4, FileInputs.scala:50-58). */
  def expandFileList(spark: SparkSession, paths: Seq[String]): Seq[String] =
    paths.flatMap { p =>
      if (p.startsWith("@"))
        spark.read.textFile(p.drop(1)).collect().toSeq.filter(_.nonEmpty)
      else Seq(p)
    }

  /** Format dispatch by extension, .fai presence aware
    * (spec: S5, FileInputs.scala:64-85). FASTQ recognition also covers
    * chunked names (reads.fastq.0001) and extensionless FILE NAMES that
    * name fastq (run1_fastq) — those would otherwise silently mis-parse
    * as '>'-separated FASTA and yield zero fragments. Only the basename is
    * consulted: a directory named fastq/ holding an extensionless FASTA
    * must not flip the whole path to FASTQ. */
  def forFile(spark: SparkSession, path: String, k: Int = 35): Dataset[InputFragment] = {
    val stripped = path.toLowerCase.replaceAll("\\.(gz|bz2)$", "")
    val base = stripped.substring(stripped.lastIndexOf('/') + 1)
    val isFastq =
      base.matches(".*\\.(fastq|fq)(\\.[0-9]+)?$") ||
        (!base.matches(".*\\.[a-z0-9]+$") && base.contains("fastq"))
    val hasFai = {
      val p = new org.apache.hadoop.fs.Path(path + ".fai")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    if (isFastq) fastq(spark, path)
    else if (hasFai) IndexedFasta.fragments(spark, path, k)
    else fasta(spark, path)
  }

  /** Parse many files and union (spec: S6, FileInputs.scala:103-116). */
  def forFiles(spark: SparkSession, paths: Seq[String], k: Int = 35)
      : Dataset[InputFragment] =
    expandFileList(spark, paths).map(forFile(spark, _, k)).reduce(_ unionAll _)

  /** Add reverse-complement copies of all fragments
    * (spec: P10, InputReader.scala:34-47). */
  def withReverseComplements(ds: Dataset[InputFragment]): Dataset[InputFragment] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.flatMap { f =>
      Iterator(f, f.copy(header = f.header + "/rc",
        nucleotides = graft.kmers.Dna.reverseComplement(f.nucleotides),
        nucleotides2 = f.nucleotides2.map(graft.kmers.Dna.reverseComplement)))
    }
  }

  /** Deterministic-seed input sampling (spec: R1, InputReader.scala:91-101). */
  def sampled(ds: Dataset[InputFragment], fraction: Double,
      seed: Long = 42L): Dataset[InputFragment] =
    if (fraction >= 1.0) ds else ds.sample(withReplacement = false, fraction, seed)

  /** 2-column TSV seqid -> taxon label file. */
  def labels(spark: SparkSession, path: String): DataFrame =
    spark.read.option("sep", "\t").csv(path)
      .toDF("header", "taxon")
      .select(col("header"), col("taxon").cast("int"))

  /** TSV bytes under which [[labelsHinted]] adds a broadcast hint. ~32 MB
    * of seqid2taxid TSV is ~2M labels — a few-hundred-MB hash relation,
    * comfortably broadcastable. */
  val MaxBroadcastLabelBytes: Long = 32L * 1024 * 1024

  /** [[labels]] with a SIZE-GATED broadcast hint. The label table is one
    * row per library sequence, so its size is input-controlled: a forced
    * broadcast (the r1–r16 shape) builds the whole table as a driver/
    * executor hash relation, which at 100 TB library scale (tens of
    * millions of sequences) stops fitting. Gate on the file size — cheap,
    * no Spark job: small tables keep the broadcast win, big ones join
    * without a hint so the payload shuffles at 2 bits/base instead (which
    * is why the library is packed BEFORE this join). Measured at the 640x
    * tier (6.3M labels, 107 MB TSV): forced broadcast 5.5 s vs unhinted
    * shuffle 3.9 s — past the gate the broadcast is not even a win. */
  def labelsHinted(spark: SparkSession, path: String,
      maxBroadcastBytes: Long = MaxBroadcastLabelBytes): DataFrame = {
    val df = labels(spark, path)
    val bytes =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getContentSummary(p).getLength
      } catch { case scala.util.control.NonFatal(_) => Long.MaxValue }
    if (bytes <= maxBroadcastBytes)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }

  /** Sample-id extraction from read headers by regex capture group
    * (spec: reference slacken/Classifier.scala:297-301). */
  def withSample(df: DataFrame, regex: Option[String], titleCol: String = "title"): DataFrame =
    regex match {
      case Some(re) =>
        df.withColumn("sample",
          coalesce(nullif(regexp_extract(col(titleCol), re, 1), lit("")), lit("other")))
      case None => df.withColumn("sample", lit("all"))
    }
}
