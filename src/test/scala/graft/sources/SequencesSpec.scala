package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkSessionTestWrapper
import java.nio.file.Files

class SequencesSpec extends AnyFunSuite with SparkSessionTestWrapper {

  def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft-seq")
    val p = dir.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("multi-line FASTA records parse as single fragments") {
    val fa = tmpFile("test.fasta",
      """>seq1 some description
        |ACGTACGT
        |ACGT
        |>seq2
        |TTTT
        |GGGG
        |CCCC
        |""".stripMargin)
    val frags = Sequences.fasta(spark, fa).collect().sortBy(_.header)
    assert(frags.length == 2)
    assert(frags(0) == InputFragment("seq1", 0L, "ACGTACGTACGT", None))
    assert(frags(1) == InputFragment("seq2", 0L, "TTTTGGGGCCCC", None))
  }

  test("FASTQ parses 4-line records, quality lines starting with @ or +") {
    val fq = tmpFile("test.fastq",
      """@r1 desc
        |ACGTACGTAC
        |+
        |@IIIIIIIII
        |@r2
        |TTTTGGGGCC
        |+r2
        |+IIIIIIIII
        |""".stripMargin)
    val frags = Sequences.fastq(spark, fq).collect().sortBy(_.header)
    assert(frags.length == 2)
    assert(frags.map(f => f.header -> f.nucleotides).toSeq ==
      Seq("r1" -> "ACGTACGTAC", "r2" -> "TTTTGGGGCC"))
    // location is the record's byte offset: r1 at 0, r2 after r1's 4 lines
    assert(frags(0).location == 0L && frags(1).location > 0L)
  }

  test("FASTA parses correctly across multiple input splits") {
    val rng = new scala.util.Random(59)
    val sb = new StringBuilder
    val n = 400
    val expected = (0 until n).map { i =>
      val seq = Array.fill(300)("ACGT"(rng.nextInt(4))).mkString
      sb.append(s">fa$i desc\n")
      for (c <- seq.grouped(70)) sb.append(c).append('\n')
      s"fa$i" -> seq
    }.toMap
    val fa = tmpFile("multi.fasta", sb.toString)
    val frags = Sequences.fasta(spark, fa).collect()
      .map(f => f.header -> f.nucleotides).toMap
    assert(frags == expected)
  }

  test("FASTQ parses correctly across multiple input splits") {
    // force 16 KiB splits: records straddling boundaries must assemble
    // exactly once, and the read must genuinely fan out over many tasks
    // (adversarial quality lines start with '@' to stress boundary sync)
    val rng = new scala.util.Random(53)
    val sb = new StringBuilder
    val n = 1200
    for (i <- 0 until n) {
      val seq = Array.fill(80)("ACGT"(rng.nextInt(4))).mkString
      sb.append(s"@multi$i desc\n$seq\n+\n").append("@" * 80).append('\n')
    }
    val fq = tmpFile("multi.fastq", sb.toString)
    val hconf = spark.sparkContext.hadoopConfiguration
    hconf.setLong("mapreduce.input.fileinputformat.split.maxsize", 16384)
    try {
      val ds = Sequences.fastq(spark, fq)
      assert(ds.rdd.getNumPartitions > 4,
        s"expected a multi-task read, got ${ds.rdd.getNumPartitions} partition(s)")
      val frags = ds.collect()
      assert(frags.length == n)
      assert(frags.map(_.header).toSet == (0 until n).map(i => s"multi$i").toSet)
      assert(frags.forall(_.nucleotides.length == 80))
      // byte offsets are unique and strictly ordered within the file
      val locs = frags.map(_.location).sorted
      assert(locs.distinct.length == n)
      // identical result to a single-split read
      hconf.setLong("mapreduce.input.fileinputformat.split.maxsize", Long.MaxValue)
      val singleDs = Sequences.fastq(spark, fq)
      assert(singleDs.rdd.getNumPartitions == 1)
      val single = singleDs.collect()
      assert(single.map(f => (f.header, f.location, f.nucleotides)).sortBy(_._2)
        .sameElements(frags.map(f => (f.header, f.location, f.nucleotides)).sortBy(_._2)))
    } finally hconf.unset("mapreduce.input.fileinputformat.split.maxsize")
  }

  test("FASTQ splits to the session's cores when no split size is set") {
    // >= 4 MiB of 150-bp records: above the 1 MiB-per-core floor on local[4],
    // so the read is one task per core; every third quality line starts
    // with '@' to stress boundary sync at the computed split starts
    val rng = new scala.util.Random(61)
    val sb = new StringBuilder
    val n = 13500
    for (i <- 0 until n) {
      val seq = Array.fill(150)("ACGT"(rng.nextInt(4))).mkString
      val qual = if (i % 3 == 0) "@" + "I" * 149 else "I" * 150
      sb.append(s"@core$i desc\n$seq\n+\n$qual\n")
    }
    val fq = tmpFile("cores.fastq", sb.toString)
    assert(Files.size(java.nio.file.Paths.get(fq)) >= (4L << 20))
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val hconf = spark.sparkContext.hadoopConfiguration
    assert(hconf.get(key) == null)
    def rows(ds: org.apache.spark.sql.Dataset[InputFragment]) =
      ds.collect().map(f => (f.header, f.location, f.nucleotides)).toSet

    val ds = Sequences.fastq(spark, fq)
    assert(ds.rdd.getNumPartitions == 4)
    val cored = rows(ds)
    assert(hconf.get(key) == null, "the shared Hadoop configuration was modified")
    assert(cored.size == n)

    hconf.setLong(key, Long.MaxValue)
    val single =
      try {
        val singleDs = Sequences.fastq(spark, fq)
        assert(singleDs.rdd.getNumPartitions == 1)
        rows(singleDs)
      } finally hconf.unset(key)
    assert(hconf.get(key) == null)
    assert(cored == single)
  }

  test("truncated FASTQ yields exactly the complete records") {
    // a last record cut to fewer than 4 lines is dropped; the complete
    // records before it all survive, whether the read is one split or
    // many 16 KiB splits (the cut record then sits in the last split)
    val rng = new scala.util.Random(67)
    val sb = new StringBuilder
    val n = 300
    for (i <- 0 until n) {
      val seq = Array.fill(80)("ACGT"(rng.nextInt(4))).mkString
      val qual = if (i % 2 == 0) "@" * 80 else "I" * 80
      sb.append(s"@full$i\n$seq\n+\n$qual\n")
    }
    val complete = (0 until n).map(i => s"full$i").toSet
    val key = "mapreduce.input.fileinputformat.split.maxsize"
    val hconf = spark.sparkContext.hadoopConfiguration
    val tails = Seq("@cut\n", "@cut\nACGTACGT\n", "@cut\nACGTACGT\n+\n",
      "@cut\nACGTACGT\n+", "@cut\nACG")
    for ((tail, t) <- tails.zipWithIndex; splitBytes <- Seq(Long.MaxValue, 16384L)) {
      val fq = tmpFile(s"truncated$t.fastq", sb.toString + tail)
      hconf.setLong(key, splitBytes)
      try {
        val ds = Sequences.fastq(spark, fq)
        val parts = ds.rdd.getNumPartitions
        assert(if (splitBytes == Long.MaxValue) parts == 1 else parts > 1,
          s"tail $t: $parts partition(s)")
        val got = ds.collect()
        assert(got.length == n, s"tail $t, split $splitBytes")
        assert(got.map(_.header).toSet == complete, s"tail $t, split $splitBytes")
        assert(got.forall(_.nucleotides.length == 80))
      } finally hconf.unset(key)
    }
  }

  test("gzip-compressed FASTQ parses transparently") {
    val dir = Files.createTempDirectory("graft-gz")
    val p = dir.resolve("reads.fastq.gz")
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
    out.write("@gz1\nACGTACGT\n+\nIIIIIIII\n@gz2\nTTTTGGGG\n+\nIIIIIIII\n".getBytes)
    out.close()
    val frags = Sequences.fastq(spark, p.toString).collect().sortBy(_.header)
    assert(frags.map(f => f.header -> f.nucleotides).toSeq ==
      Seq("gz1" -> "ACGTACGT", "gz2" -> "TTTTGGGG"))
  }

  test("forFile dispatch: chunked and extensionless fastq names parse as FASTQ") {
    val fq = "@c1\nACGTACGT\n+\nIIIIIIII\n@c2\nTTTTGGGG\n+\nIIIIIIII\n"
    // chunked split naming: reads.fastq.0001
    val chunk = tmpFile("reads.fastq.0001", fq)
    val got1 = Sequences.forFile(spark, chunk).collect().sortBy(_.header)
    assert(got1.map(f => f.header -> f.nucleotides).toSeq ==
      Seq("c1" -> "ACGTACGT", "c2" -> "TTTTGGGG"))
    // extensionless FILE NAME that names fastq
    val dir = Files.createTempDirectory("graft-fastq-dir")
    val sub = dir.resolve("fastq")
    Files.createDirectories(sub)
    Files.writeString(sub.resolve("run1_fastq"), fq)
    val got2 = Sequences.forFile(spark, sub.resolve("run1_fastq").toString)
      .collect().sortBy(_.header)
    assert(got2.map(_.header).toSeq == Seq("c1", "c2"))
    // a FASTA that merely lives under a fastq-named dir stays FASTA —
    // the directory component must not flip the format (advisor r4)
    Files.writeString(sub.resolve("genome.fasta"), ">g1\nACGT\n")
    val got3 = Sequences.forFile(spark, sub.resolve("genome.fasta").toString)
      .collect()
    assert(got3.map(_.header).toSeq == Seq("g1"))
    // ...even when the FASTA is extensionless: basename-only sniffing
    Files.writeString(sub.resolve("genomes"), ">g2\nTTTT\n")
    val got4 = Sequences.forFile(spark, sub.resolve("genomes").toString)
      .collect()
    assert(got4.map(f => f.header -> f.nucleotides).toSeq == Seq("g2" -> "TTTT"))
  }

  test("paired-end mates join on cleaned headers") {
    val r1 = tmpFile("r1.fastq",
      "@p1/1\nAAAA\n+\nIIII\n@p2/1\nCCCC\n+\nIIII\n")
    val r2 = tmpFile("r2.fastq",
      "@p1/2\nGGGG\n+\nIIII\n@p2/2\nTTTT\n+\nIIII\n")
    val pairs = Sequences.paired(
      Sequences.fastq(spark, r1), Sequences.fastq(spark, r2))
      .collect().sortBy(_.header)
    assert(pairs.length == 2)
    // the paired fragment keeps R1's byte offset (provenance through pairing):
    // p1 starts at byte 0 of r1.fastq, p2 at byte 18 (after p1's 4 lines)
    assert(pairs(0) == InputFragment("p1", 0L, "AAAA", Some("GGGG")))
    assert(pairs(1) == InputFragment("p2", 18L, "CCCC", Some("TTTT")))
  }

  test("direct DataFrame source with defaulted mate column") {
    import spark.implicits._
    val df = Seq(("a", "ACGT"), ("b", "TTTT")).toDF("header", "nucleotides")
    val frags = Sequences.fromDataFrame(df).collect().sortBy(_.header)
    assert(frags.toSeq == Seq(
      InputFragment("a", 0L, "ACGT", None), InputFragment("b", 0L, "TTTT", None)))
  }

  test("label TSV parses header -> taxon") {
    val labels = tmpFile("labels.tsv", "seq1\t42\nseq2\t77\n")
    val got = Sequences.labels(spark, labels).collect()
      .map(r => (r.getString(0), r.getInt(1))).sortBy(_._1)
    assert(got.toSeq == Seq(("seq1", 42), ("seq2", 77)))
  }

  test("labelsHinted broadcasts only under the size gate") {
    import spark.implicits._
    val labels = tmpFile("labels_gate.tsv", "seq1\t42\nseq2\t77\n")
    val seqs = Seq(("seq1", "ACGT"), ("seq2", "TTTT")).toDF("header", "dna")
    def planOf(lb: org.apache.spark.sql.DataFrame): String =
      seqs.join(lb, "header").queryExecution.executedPlan.toString
    // small file -> broadcast hash join
    assert(planOf(Sequences.labelsHinted(spark, labels))
      .contains("BroadcastHashJoin"))
    // over the gate -> no broadcast hint; with auto-broadcast disabled the
    // plan must fall to a shuffle join (the scale-safe path)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    ss.conf.set("spark.sql.adaptive.enabled", "false")
    val seqs2 = ss.createDataFrame(Seq(("seq1", "ACGT"))).toDF("header", "dna")
    val gated = seqs2.join(
      Sequences.labelsHinted(ss, labels, maxBroadcastBytes = 1L), "header")
    assert(!gated.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    // both shapes return the same rows
    assert(gated.count() == 1)
  }

  test("sample extraction by regex with fallback") {
    import spark.implicits._
    val df = Seq("S0R5/1", "S1R2/1", "weird").toDF("title")
    val got = Sequences.withSample(df, Some("(S\\d+)R")).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got("S0R5/1") == "S0" && got("S1R2/1") == "S1" && got("weird") == "other")
  }
}
