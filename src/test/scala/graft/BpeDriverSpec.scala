package graft

import graft.text.Bpe
import graft.util.Materialize
import org.apache.spark.sql.functions.{col, udf}

/** The guarded BPE fit: a word table under the guard is learned on the
  * driver (incremental pair counts, a lazily-invalidated heap), one over
  * it by the distributed per-merge rounds. Both must equal an independent
  * plain-Scala reference merge for merge — ties, runs of one character,
  * an exhausted corpus, and the 4096-merge ceiling — and the driver path
  * must cost at most two jobs whatever the merge count. */
class BpeDriverSpec extends SparkSpec {
  import spark.implicits._

  // ---- reference (plain Scala, no Spark, no incremental counts) --------

  private def refApply(toks: Vector[String], l: String, r: String)
      : Vector[String] = {
    val b = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == l && toks(i + 1) == r) {
        b += (l + r); i += 2
      } else { b += toks(i); i += 1 }
    }
    b.result()
  }

  /** Recounts every pair every round; (count DESC, "l r" ASC) wins. */
  private def refBpe(docs: Seq[String], nMerges: Int): Seq[Bpe.Merge] = {
    var segs = docs.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).toSeq
      .map { case (w, o) => (w.map(_.toString).toVector, o.size.toLong) }
    val out = Seq.newBuilder[Bpe.Merge]
    var round = 0
    var done = false
    while (round < nMerges && !done) {
      val counts = scala.collection.mutable.HashMap[(String, String), Long]()
      segs.foreach { case (toks, c) =>
        toks.indices.dropRight(1).foreach { i =>
          val k = (toks(i), toks(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + c
        }
      }
      if (counts.isEmpty) done = true
      else {
        val n = counts.values.max
        val (l, r) = counts.keys.filter(counts(_) == n)
          .minBy { case (a, b) => a + " " + b }
        round += 1
        out += Bpe.Merge(round, l, r, n)
        segs = segs.map { case (toks, c) => (refApply(toks, l, r), c) }
      }
    }
    out.result()
  }

  private def corpus(seed: Int, nDocs: Int, alphabet: String,
      maxLen: Int): Seq[String] = {
    val rng = new scala.util.Random(seed)
    (1 to nDocs).map { _ =>
      (1 to 1 + rng.nextInt(8)).map { _ =>
        (1 to 1 + rng.nextInt(maxLen))
          .map(_ => alphabet(rng.nextInt(alphabet.length))).mkString
      }.mkString(" ")
    }
  }

  private def rounds[T](body: => T): T =
    Materialize.driverMaxRows.withValue(0L)(body)

  test("driver fit == distributed rounds == reference: ties, runs, " +
      "exhaustion and seeded random corpora") {
    val cases = Seq(
      // every pair ties at 2; the byte order of "l r" decides each round
      "ties" -> (Seq("xy yz zx", "xy yz zx"), 6),
      // runs: greedy non-overlapping merges (aaaa -> aa aa, aaa -> aa a)
      "runs" -> (Seq("aaaa aaa aaaaa a", "aa aaaaaa aaaa"), 8),
      // two words of three letters run out of pairs after three merges
      "exhausted" -> (Seq("abc abc bcd"), 10),
      "random-ab" -> (corpus(11, 9, "ab", 7), 12),
      "random-abc" -> (corpus(12, 7, "abc", 6), 9),
      "random-digits" -> (corpus(13, 8, "a1b2", 5), 10))
    cases.foreach { case (name, (docs, n)) =>
      val df = docs.toDF("text")
      val driver = Bpe.fitBpe(df, "text", n)
      val loop = rounds(Bpe.fitBpe(df, "text", n))
      val ref = refBpe(docs, n)
      assert(driver == ref, s"$name: driver differs from the reference")
      assert(loop == ref, s"$name: rounds differ from the reference")
    }
    // (b c) 3, (a bc) 2, (bc d) 1 — then every word is one token
    assert(Bpe.fitBpe(Seq("abc abc bcd").toDF("text"), "text", 10).size == 3)
  }

  test("4096 merges on the driver == reference, in at most two jobs") {
    val docs = corpus(0x4096, 300, "abcdefghijklmnopqrstuvwxyz0123456789",
      14)
    val df = docs.toDF("text").localCheckpoint(true)
    val ref = refBpe(docs, 4096)
    assert(ref.size == 4096)
    var driver = Seq.empty[Bpe.Merge]
    assert(countJobs { driver = Bpe.fitBpe(df, "text", 4096) } <= 2)
    assert(driver == ref)
  }

  test("fitBpe is at most two jobs under the guard at any numMerges, and " +
      "logs its decision") {
    val df = corpus(7, 200, "abcdefgh", 9).toDF("text").localCheckpoint(true)
    Seq(1, 64, 512).foreach { n =>
      assert(countJobs(Bpe.fitBpe(df, "text", n)) <= 2, s"numMerges=$n")
    }
    val words = corpus(7, 200, "abcdefgh", 9).flatMap(_.split(" ")).distinct
    val (_, lines) = logLines(Bpe.getClass.getName)(Bpe.fitBpe(df, "text", 3))
    assert(lines == Seq(s"Bpe.fitBpe: words=${words.size} " +
      "guard=1000000 path=driver"))
    val (_, over) = logLines(Bpe.getClass.getName) {
      Materialize.driverMaxRows.withValue(5L)(Bpe.fitBpe(df, "text", 3))
    }
    assert(over == Seq("Bpe.fitBpe: words>5 guard=5 path=rounds"))
  }

  test("over the guard the rounds run on the checkpointed word table: the " +
      "corpus is scanned once") {
    val docs = corpus(21, 40, "abcd", 6)
    val scans = spark.sparkContext.longAccumulator("bpe-corpus-scans")
    // nondeterministic: the optimizer may copy a deterministic UDF into
    // several expressions, which would count one row more than once
    val tap = udf { (s: String) => scans.add(1); s }.asNondeterministic()
    val tapped = docs.toDF("text").select(tap(col("text")).as("text"))
    val merges = Materialize.driverMaxRows.withValue(3L)(
      Bpe.fitBpe(tapped, "text", 12))
    assert(scans.sum == docs.size, s"corpus read ${scans.sum} rows")
    assert(merges == refBpe(docs, 12))
  }

  test("save and load run no Spark job and round-trip the table") {
    val merges = Bpe.fitBpe(corpus(5, 30, "abc", 6).toDF("text"), "text", 20)
    val dir = java.nio.file.Files.createTempDirectory("bpe-driver").toString
    assert(countJobs(Bpe.save(merges, spark, s"$dir/m")) == 0)
    var back = Seq.empty[Bpe.Merge]
    assert(countJobs { back = Bpe.load(spark, s"$dir/m") } == 0)
    assert(back == merges)
    assert(new java.io.File(s"$dir/m").listFiles()
      .count(_.getName.endsWith(".parquet")) == 1)
    // Spark reads the driver-written file with mergesDF's columns and types
    val read = spark.read.parquet(s"$dir/m")
    assert(read.schema.map(f => (f.name, f.dataType)) ==
      Bpe.mergesDF(spark, merges).schema.map(f => (f.name, f.dataType)))
    assert(read.orderBy("merge_rank").collect().toSeq ==
      Bpe.mergesDF(spark, merges).collect().toSeq)
  }

  test("load reads a merge table Spark wrote in several part files") {
    val merges = Bpe.fitBpe(corpus(7, 30, "abcd", 6).toDF("text"), "text", 15)
    val dir = java.nio.file.Files.createTempDirectory("bpe-parts").toString
    Bpe.mergesDF(spark, merges).repartition(3)
      .write.mode("overwrite").parquet(s"$dir/m")
    assert(Bpe.load(spark, s"$dir/m") == merges)
    // and a driver-written save replaces that directory as a whole
    Bpe.save(merges.take(4), spark, s"$dir/m")
    assert(Bpe.load(spark, s"$dir/m") == merges.take(4))
  }
}
