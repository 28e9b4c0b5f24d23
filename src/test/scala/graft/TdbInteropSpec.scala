package graft

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.functions._
import graft.sources.TdbWriter

/** CROSS-ENGINE package interop (round 9, VERDICT r8 task 2): the one
  * load-bearing claim no in-repo gate covered — TdbWriter.scala:10's "a
  * format-v1 tar the REFERENCE engine can open" — proven here by actually
  * running the reference engine. `tools/refdump/build.sh` compiles the
  * UNMODIFIED reference sources (`src/tdb.c`, `tdb_decode.c`,
  * `tdb_package.c`, `tdbcli/op_dump.c`, …) into a dump-only `tdb` binary
  * (the sandbox lacks libJudy/libarchive, which only the cons/write side
  * needs — the read path uses neither: packages are parsed natively by
  * `src/tdb_package.c:16-198` and the 4 reachable JudyL calls are the
  * per-trail filter-option map, backed by a faithful shim).
  *
  * The chain is anchored at both ends: the C binary first reproduces the
  * known contents of the reference's OWN in-tree `test.tdb` (so the shim
  * build didn't change its behavior), then dumps packages WE wrote and
  * must agree byte-for-byte with our reader on every row — huffman-coded
  * and literal-only variants, nulls, empty strings, edge-encoding
  * reverts, LE-uuid ordering.
  *
  * If the binary cannot be built (no gcc — e.g. a CI sandbox without a C
  * toolchain) the suite CANCELS loudly rather than passing vacuously.
  */
class TdbInteropSpec extends SparkSpec {
  import spark.implicits._

  private val repoRoot = sys.props.getOrElse("user.dir", ".")
  private val refBin = s"$repoRoot/tools/refbin/tdb"

  private lazy val binaryAvailable: Boolean = {
    if (!Files.exists(Paths.get(refBin)))
      Process(Seq("sh", s"$repoRoot/tools/refdump/build.sh")).! // best effort
    Files.exists(Paths.get(refBin))
  }

  private def requireBinary(): Unit =
    assume(binaryAvailable, s"reference dump binary not buildable at $refBin")

  /** `tdb dump -j` lines → (uuid, time, fieldName→value) — values the C
    * engine prints for every field, "" for NULL. The dump emits plain
    * `{"k": "v", ...}` objects with our fixture charsets needing no
    * unescaping (enforced by the fixtures below). */
  private def cDumpJson(pkg: String): Seq[(String, Long, Map[String, String])] = {
    val out = Process(Seq(refBin, "dump", "-j", "-i", pkg)).!!
    out.linesIterator.filter(_.nonEmpty).map { line =>
      val kv = """"([^"]*)": "([^"]*)"""".r
        .findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toMap
      (kv("uuid"), kv("time").toLong, kv - "uuid" - "time")
    }.toSeq
  }

  test("sanity: the shim-built reference engine reproduces its own test.tdb") {
    requireBinary()
    val got = cDumpJson("/root/reference/test.tdb")
    assert(got === Seq(
      ("10" + "0" * 30, 1463696903L,
        Map("first_field" -> "hello", "second_field" -> "world")),
      ("20" + "0" * 30, 1463696952L,
        Map("first_field" -> "it", "second_field" -> "works!"))))
  }

  test("reference engine opens and exactly dumps a graft-written package (huffman + literal)") {
    requireBinary()
    val rnd = new scala.util.Random(11)
    val rows = (0 until 900).map { i =>
      val u = f"${rnd.nextInt(40)}%032x"
      (u, 5000L + (i / 30) * 60L,
        Seq("view", "click", "buy", "")(rnd.nextInt(4)),
        if (rnd.nextInt(8) == 0) null else "c" + rnd.nextInt(5))
    }
    val df = rows.toDF("uuid", "time", "etype", "tag")
      .withColumn("seq", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-interop")
    // three encoder modes, all format-v1: bigram huffman (default),
    // unigram-only huffman (--no-bigrams), literal-only
    for ((compress, bigrams) <- Seq((true, true), (true, false), (false, true))) {
      val pkg = s"$dir/x$compress-$bigrams.tdb"
      TdbWriter.writePackage(df, Seq("etype", "tag"), pkg,
        compress = compress, bigrams = bigrams)
      val c = cDumpJson(pkg)
        .map { case (u, t, m) => (u, t, m("etype"), m("tag")) }.sorted
      val ours = spark.read.format("tdb").load(pkg)
        .select("uuid", "time", "etype", "tag").collect()
        .map(r => (r.getString(0), r.getLong(1),
          Option(r.getString(2)).getOrElse(""),
          Option(r.getString(3)).getOrElse(""))).sorted.toSeq
      assert(c === ours,
        s"C engine and graft reader disagree on compress=$compress bigrams=$bigrams package")
      // and both equal the source data (NULL and "" both dump as "")
      val want = rows.map(t => (t._1, t._2, t._3,
        Option(t._4).getOrElse(""))).sorted
      assert(c === want, s"C dump diverges from source at compress=$compress bigrams=$bigrams")
    }
  }

  test("reference engine reads a graft-written FORMAT-V0 directory through its v0 paths") {
    requireBinary()
    // repeated values so real huffman codes exist → exercises the v0
    // 12-byte codebook conversion (huff_convert_v0_codebook); trails in
    // hex order ≠ LE order → exercises the unordered-index freedom; a
    // --uuids whitelist → exercises the C engine's v0 LINEAR
    // tdb_get_trail_id (src/tdb.c:558-567)
    val rnd = new scala.util.Random(23)
    val rows = (0 until 600).map { i =>
      val u = f"${rnd.nextInt(20)}%032x"
      (u, 9000L + (i / 20) * 30L, Seq("view", "click")(rnd.nextInt(2)),
        if (rnd.nextInt(6) == 0) "" else "t" + rnd.nextInt(4))
    }
    val df = rows.toDF("uuid", "time", "etype", "tag")
      .withColumn("seq", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-interop-v0")
    val v0 = s"$dir/v0db"
    TdbWriter.writeV0Directory(df, Seq("etype", "tag"), v0)
    assert(!Files.exists(Paths.get(s"$v0/version")) &&
      Files.exists(Paths.get(s"$v0/cookies")), "not a v0 layout")
    val c = cDumpJson(v0).map { case (u, t, m) => (u, t, m("etype"), m("tag")) }
    val want = rows.sorted // hex uuid order == tuple sort order here
    assert(c.sorted === want, "C engine v0 dump diverges from source")
    // v0 gives no order contract BUT this writer emits hex order; the C
    // engine must preserve the stored order on a sequential dump
    assert(c.map(_._1) === c.map(_._1).sorted, "stored trail order lost")
    // whitelist: linear uuid search on both engines
    val one = f"${7}%032x"
    val cw = Process(Seq(refBin, "dump", "-j", "-i", v0, "--uuids", one)).!!
      .linesIterator.count(_.nonEmpty)
    val ours = spark.read.format("tdb").load(v0)
      .filter(col("uuid") === one).count()
    assert(cw.toLong === ours && ours > 0L,
      s"v0 uuid whitelist: C=$cw graft=$ours")
    // and graft's reader agrees row-for-row with the C engine
    val g = spark.read.format("tdb").load(v0)
      .select("uuid", "time", "etype", "tag").collect()
      .map(r => (r.getString(0), r.getLong(1),
        Option(r.getString(2)).getOrElse(""),
        Option(r.getString(3)).getOrElse(""))).sorted.toSeq
    assert(g === c.sorted, "graft v0 reader disagrees with the C engine")
  }

  test("reference engine point-lookup and CNF filters agree on a graft package") {
    requireBinary()
    // --uuids drives the C engine's BINARY SEARCH over OUR uuids member
    // (src/tdb.c:569-585) — a plain dump passes even if the writer's
    // LE-u128 sort order were wrong, but the lookup would miss; -F
    // drives its CNF filter over OUR lexicons (item ids must line up).
    val rnd = new scala.util.Random(41)
    val rows = (0 until 500).map { i =>
      val u = f"${rnd.nextInt(30)}%032x"
      (u, 100L + i, Seq("view", "click", "buy")(rnd.nextInt(3)),
        if (rnd.nextInt(5) == 0) null else "t" + rnd.nextInt(3))
    }
    val df = rows.toDF("uuid", "time", "etype", "tag")
      .withColumn("seq", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-interop3")
    val pkg = s"$dir/f.tdb"
    TdbWriter.writePackage(df, Seq("etype", "tag"), pkg)

    // 1. binary-search point lookup: every uuid in the pool individually
    for (uid <- Seq(0, 7, 29).map(i => f"$i%032x")) {
      val c = Process(Seq(refBin, "dump", "-j", "-i", pkg, "--uuids", uid)).!!
        .linesIterator.count(_.nonEmpty)
      assert(c.toLong === rows.count(_._1 == uid).toLong,
        s"C binary search missed trail $uid")
    }
    // 2. CNF filters: equality, within-clause OR, negation, empty-value,
    // and a two-clause AND — each vs the equivalent Spark filter over
    // the same package (reference grammar: '&'-separated clauses of
    // space-separated OR terms, f!=v negation, f= the NULL value)
    val back = spark.read.format("tdb").load(pkg)
      .select(col("uuid"), col("time"),
        coalesce(col("etype"), lit("")).as("etype"),
        coalesce(col("tag"), lit("")).as("tag")).localCheckpoint()
    def cCount(filter: String): Long =
      Process(Seq(refBin, "dump", "-j", "-i", pkg, "-F", filter)).!!
        .linesIterator.count(_.nonEmpty).toLong
    val cases: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("etype=view", col("etype") === "view"),
      ("etype=view etype=buy", col("etype") === "view" || col("etype") === "buy"),
      ("etype!=view", col("etype") =!= "view"),
      ("tag=", col("tag") === ""),
      ("etype=click & tag!=", col("etype") === "click" && col("tag") =!= ""))
    cases.foreach { case (f, cond) =>
      val c = cCount(f)
      val ours = back.filter(cond).count()
      assert(c === ours && ours > 0L,
        s"filter '$f': C engine $c vs graft $ours")
    }
    // 3. --fields projection: the C engine's output column mapping over
    // our lexicons (op_dump.c output_fields) must yield exactly our
    // projected rows
    val proj = Process(Seq(refBin, "dump", "-j", "-i", pkg,
        "--fields", "uuid,etype")).!!
      .linesIterator.filter(_.nonEmpty).map { line =>
        val kv = """"([^"]*)": "([^"]*)"""".r
          .findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toMap
        assert(kv.keySet === Set("uuid", "etype"),
          s"C --fields dump leaked columns: ${kv.keySet}")
        (kv("uuid"), kv("etype"))
      }.toSeq.sorted
    val oursProj = back.select("uuid", "etype").collect()
      .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    assert(proj === oursProj, "C --fields projection diverges")
  }

  test("what you write you get back: length-0, 1 MB, and NUL-bearing binary values (c-tests/what_you_write_you_get_back.c:22-83)") {
    requireBinary()
    // The reference's flagship round-trip fixture: value lengths
    // {0, 1, 2, 1000, 1_000_000} of one repeated byte per (trail, field),
    // uuid bytes = the trail ordinal repeated, 3 events per trail at
    // time = ordinal — PLUS a sixth trail whose values embed NUL bytes
    // (the v1 lexicon is offset-delimited, so 0x00 is an ordinary byte;
    // only v0's 0-terminated lexicons cannot carry it). All bytes stay
    // < 0x80 so UTF-8 string transport is byte-identity.
    val lengths = Seq(0, 1, 2, 1000, 1000000)
    def rep(b: Int, n: Int): String = (b.toChar.toString) * n
    val perTrail: Seq[(String, Seq[(String, String, String)])] =
      lengths.zipWithIndex.map { case (len, i) =>
        (f"$i%02x" * 16,
          Seq.fill(3)((rep(i, len), rep(i + 10, len), rep(i + 20, len))))
      } :+ (("05" * 16), Seq.fill(3)(("x\u0000y", "\u0000\u0000", "\u0000abc")))
    val rows = perTrail.zipWithIndex.flatMap { case ((u, evs), i) =>
      evs.zipWithIndex.map { case ((a, b, c), j) =>
        (u, i.toLong, j.toLong, a, b, c)
      }
    }
    val df = rows.toDF("uuid", "time", "seq", "a", "b", "c")
    val dir = Files.createTempDirectory("graft-interop-big")
    val pkg = s"$dir/big.tdb"
    TdbWriter.writePackage(df, Seq("a", "b", "c"), pkg)

    // 1. byte-hash the C engine's raw JSON dump against the expected
    // stream constructed from the source (dump_json_event prints value
    // bytes unescaped via `%.*s` — precision caps the length but printf
    // still STOPS at the first NUL, so the faithful model of the C CLI's
    // output truncates each value there; the reference's own API-level
    // test uses memcmp and sees the full bytes, which TdbSourceSpec
    // checks through our reader on the same corpus. Trail order = LE
    // u128 uuid order = ordinal order here.)
    val dumpFile = new java.io.File(s"$dir/cdump.json")
    val rc = (Process(Seq(refBin, "dump", "-j", "-i", pkg)) #> dumpFile).!
    assert(rc === 0, s"reference dump exited $rc")
    def printfS(v: String): String = v.takeWhile(_ != '\u0000')
    val expected = rows.map { case (u, t, _, a, b, c) =>
      s"""{"uuid": "$u", "time": "$t", "a": "${printfS(a)}", """ +
        s""""b": "${printfS(b)}", "c": "${printfS(c)}"}\n"""
    }.mkString
    def sha(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
    val got = java.nio.file.Files.readAllBytes(dumpFile.toPath)
    assert(got.length === expected.getBytes("UTF-8").length,
      s"C dump size ${got.length} != expected ${expected.getBytes("UTF-8").length}")
    assert(sha(got) === sha(expected.getBytes("UTF-8")),
      "C engine dump bytes diverge from the written values")
  }

  test("reference engine honors trail structure of a graft package (edge-encoding reverts, LE uuid order)") {
    requireBinary()
    val df = Seq(
      ("00" * 15 + "02", 100L, "a", "x"),
      ("00" * 15 + "02", 150L, "b", null),
      ("00" * 15 + "02", 170L, "a", "x"), // value reverts — must re-emit
      ("01" + "00" * 15, 90L, "", "y"),
      ("01" + "00" * 15, 260L, "c", "y"),
      ("ff" * 16, 1L, "z", "z")
    ).toDF("uuid", "time", "kind", "tag")
    val dir = Files.createTempDirectory("graft-interop2")
    val pkg = s"$dir/edge.tdb"
    TdbWriter.writePackage(df, Seq("kind", "tag"), pkg)
    val c = cDumpJson(pkg).map { case (u, t, m) => (u, t, m("kind"), m("tag")) }
    // dump order is trail order = little-endian u128 uuid order:
    // 01 00*15 (LE value 0x...01 low byte first = 1) < 00*15 02 < ff*16
    assert(c === Seq(
      ("01" + "00" * 15, 90L, "", "y"),
      ("01" + "00" * 15, 260L, "c", "y"),
      ("00" * 15 + "02", 100L, "a", "x"),
      ("00" * 15 + "02", 150L, "b", ""),
      ("00" * 15 + "02", 170L, "a", "x"),
      ("ff" * 16, 1L, "z", "z")))
  }

  test("reverse interop: a db the reference C engine WRITES (tdb-make) reads identically through graft") {
    // The make-capable binary (tools/refdump/build_full.sh — cons/encode/
    // model compiled from unmodified reference sources over the
    // hash-backed Judy shim) closes the loop in the OTHER direction:
    // graft's reader over a db the C engine itself encoded, huffman
    // codebook and all. Also the binary the compression-parity bench
    // (tools/CompressionBench) relies on.
    val makeBin = s"$repoRoot/tools/refbin/tdb-make"
    if (!Files.exists(Paths.get(makeBin)))
      Process(Seq("sh", s"$repoRoot/tools/refdump/build_full.sh")).! // best effort
    assume(Files.exists(Paths.get(makeBin)),
      s"reference make binary not buildable at $makeBin")

    val rnd = new scala.util.Random(77)
    val rows = (0 until 800).map { i =>
      val u = f"${rnd.nextInt(25)}%032x"
      (u, 2000L + i, Seq("view", "click", "buy", "")(rnd.nextInt(4)),
        if (rnd.nextInt(7) == 0) "" else "p" + rnd.nextInt(9))
    }.sortBy(t => (t._1, t._2))
    val dir = Files.createTempDirectory("graft-interop-rev")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv, rows.map(t =>
      s"${t._1},${t._2},${t._3},${t._4}").mkString("", "\n", "\n"))
    val cdb = s"$dir/cdb"
    val rc = Process(Seq(makeBin, "make", "-o", cdb, "-c",
      "-i", csv.toString, "-d", ",", "-f", "uuid,time,etype,tag")).!
    assert(rc === 0, s"reference tdb make exited $rc")

    // graft reads the C-encoded db row-for-row (NULL ≡ "")
    val got = spark.read.format("tdb").load(cdb)
      .select(col("uuid"), col("time"),
        coalesce(col("etype"), lit("")).as("etype"),
        coalesce(col("tag"), lit("")).as("tag"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2),
        r.getString(3))).sorted.toSeq
    assert(got === rows.sorted, "graft reader diverges from a C-written db")

    // and the C binaries agree with each other on the same db (the
    // upgraded shim must not have changed the original dump path)
    val viaMake = Process(Seq(makeBin, "dump", "-j", "-i", cdb)).!!
    val viaDump = Process(Seq(refBin, "dump", "-j", "-i", cdb)).!!
    assert(viaMake === viaDump, "tdb and tdb-make dumps diverge")
  }

  test("single-file dump in refOrder is BYTE-IDENTICAL to the C engine's dump of the same package") {
    requireBinary()
    // dumpJsonFile/dumpCsvFile close the one documented artifact-shape
    // divergence (Spark part-file dir vs the reference's single ordered
    // stream): with refOrder=true the rows come out in the reference's
    // LE-u128 trail order in the C CLI's exact row format, so the two
    // engines' dump FILES diff clean — not just their row multisets.
    // FULLY random uuids (every byte position varies) so the LE-u128
    // order agreement is exercised across all 16 bytes — the
    // uuid_ordering.c contract — under byte identity, not just multiset
    // equality
    val rnd = new scala.util.Random(63)
    val uuidPool = Seq.fill(20)(
      Array.fill(16)(f"${rnd.nextInt(256)}%02x").mkString)
    val rows = (0 until 400).map { i =>
      val u = uuidPool(rnd.nextInt(uuidPool.length))
      (u, 3000L + i, Seq("view", "click", "")(rnd.nextInt(3)),
        if (rnd.nextInt(6) == 0) null else "q" + rnd.nextInt(4))
    }
    val df = rows.toDF("uuid", "time", "etype", "tag")
      .withColumn("seq", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-interop-single")
    val pkg = s"$dir/single.tdb"
    TdbWriter.writePackage(df, Seq("etype", "tag"), pkg)

    val db = graft.core.TrailDB.open(spark, pkg)
    val jsonOut = s"$dir/graft.json"
    db.dumpJsonFile(jsonOut, refOrder = true)
    val cJson = Process(Seq(refBin, "dump", "-j", "-i", pkg)).!!
    val gJson = new String(Files.readAllBytes(Paths.get(jsonOut)), "UTF-8")
    assert(gJson === cJson, "single-file JSON dump != C engine bytes")

    val csvOut = s"$dir/graft.csv"
    db.dumpCsvFile(csvOut, refOrder = true) // reference default delim ' '
    val cCsv = Process(Seq(refBin, "dump", "-c", "-i", pkg)).!!
    val gCsv = new String(Files.readAllBytes(Paths.get(csvOut)), "UTF-8")
    assert(gCsv === cCsv, "single-file CSV dump != C engine bytes")

    // and a FILTERED single-file dump matches the C engine's too
    val fOut = s"$dir/graft-f.json"
    db.withFilter("etype=view").dumpJsonFile(fOut, refOrder = true)
    val cF = Process(Seq(refBin, "dump", "-j", "-i", pkg,
      "-F", "etype=view")).!!
    assert(new String(Files.readAllBytes(Paths.get(fOut)), "UTF-8") === cF,
      "filtered single-file dump != C engine bytes")
  }

  test("cross-engine merge: the C engine's tdb merge over graft packages equals TrailOps.merge (op_merge.c:92-186)") {
    val makeBin = s"$repoRoot/tools/refbin/tdb-make"
    if (!Files.exists(Paths.get(makeBin)))
      Process(Seq("sh", s"$repoRoot/tools/refdump/build_full.sh")).!
    assume(Files.exists(Paths.get(makeBin)),
      s"reference make binary not buildable at $makeBin")

    // two shards with OVERLAPPING uuids and DIFFERENT field sets — the
    // schema-union semantics J4 claims (missing values become "")
    val rnd = new scala.util.Random(55)
    val aRows = (0 until 300).map { i =>
      (f"${rnd.nextInt(12)}%032x", 100L + i,
        Seq("view", "click")(rnd.nextInt(2)), "g" + rnd.nextInt(3))
    }
    val bRows = (0 until 200).map { i =>
      (f"${4 + rnd.nextInt(12)}%032x", 500L + i,
        Seq("buy", "ship")(rnd.nextInt(2)), "x" + rnd.nextInt(2))
    }
    val dir = Files.createTempDirectory("graft-interop-merge")
    val aPkg = s"$dir/a.tdb"; val bPkg = s"$dir/b.tdb"
    TdbWriter.writePackage(
      aRows.toDF("uuid", "time", "etype", "tag")
        .withColumn("seq", monotonically_increasing_id()),
      Seq("etype", "tag"), aPkg)
    TdbWriter.writePackage(
      bRows.toDF("uuid", "time", "etype", "extra")
        .withColumn("seq", monotonically_increasing_id()),
      Seq("etype", "extra"), bPkg)

    // the C engine merges the two graft-written packages natively
    val merged = s"$dir/merged"
    val rc = Process(Seq(makeBin, "merge", "-o", merged, aPkg, bPkg)).!
    assert(rc === 0, s"reference tdb merge exited $rc")
    def canonRow(u: String, t: Long, m: Map[String, String]) =
      (u, t, m.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","))
    val c = cDumpJson(merged)
      .map { case (u, t, m) => canonRow(u, t, m) }.sorted

    // graft's merge over the same packages: same schema union, "" fill
    val g = graft.core.TrailOps.merge(Seq(
        graft.core.TrailDB.open(spark, aPkg),
        graft.core.TrailDB.open(spark, bPkg)))
      .df.select(col("uuid"), col("time"),
        coalesce(col("etype"), lit("")).as("etype"),
        coalesce(col("tag"), lit("")).as("tag"),
        coalesce(col("extra"), lit("")).as("extra"))
      .collect()
      .map(r => canonRow(r.getString(0), r.getLong(1), Map(
        "etype" -> r.getString(2), "tag" -> r.getString(3),
        "extra" -> r.getString(4)))).toSeq.sorted
    assert(c === g, "C merge and TrailOps.merge diverge")
    assert(c.size === 500)
  }

  test("randomized cross-engine filter differential: 60 random CNF filters agree byte-for-byte, with and without index") {
    requireBinary()
    // The reference's CLI suite runs EVERY filter with and without the
    // index and asserts identical results (tests/tdbcli/test_tdbcli.py:
    // 72-78); this is the cross-ENGINE generalization: random filters
    // drawn from the FULL shared CLI grammar (tdbcli/filter.c:17-31 —
    // equality, inequality, empty value, `=@file`, unknown field, unknown
    // value, multi-clause `&`; time ranges are API-only in the reference,
    // not CLI-expressible, so the in-engine t_filter_time_range twin
    // covers them) dumped through BOTH engines over a graft-written
    // package, asserted byte-identical in the C engine's own output
    // order, and through graft's TrailIndex-pruned path as well.
    val rnd = new scala.util.Random(101)
    val uuidPool = (0 until 24).map(i => f"$i%032x")
    val etypes = Seq("view", "click", "buy", "ship", "")
    val tags = Seq("t0", "t1", "t2", "t3", "t4", null)
    val rows = uuidPool.zipWithIndex.flatMap { case (u, ui) =>
      (0 until 10 + rnd.nextInt(40)).map { j =>
        // unique time within a trail → (LE-uuid, time) is a total order
        // identical to the C engine's stored dump order
        (u, 1000L + j * 7L + ui, etypes(rnd.nextInt(etypes.length)),
          tags(rnd.nextInt(tags.length)))
      }
    }
    val df = rows.toDF("uuid", "time", "etype", "tag")
      .withColumn("seq", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft-interop-diff")
    val pkg = s"$dir/rdiff.tdb"
    TdbWriter.writePackage(df, Seq("etype", "tag"), pkg)

    // @file indirection fixtures: a real value and an empty file (the
    // reference mmaps st_size bytes; empty file = the NULL/"" value)
    val valFile = dir.resolve("val.txt"); Files.writeString(valFile, "t1")
    val emptyFile = dir.resolve("empty.txt"); Files.writeString(emptyFile, "")

    val db = graft.core.TrailDB.open(spark, pkg)
    // one decode of the package, then 60 filters over the cached frame —
    // full-dump package fidelity is separately asserted below
    val base = graft.core.TrailDB.fromTrailFrame(db.df.localCheckpoint())
    val idxDir = s"$dir/rdiff.index"
    graft.core.TrailIndex.build(base, idxDir)
    val index = graft.core.TrailIndex.open(spark, idxDir)

    // FOUR-WAY when the make-capable binary exists: the reference's OWN
    // index (tdb index, tdbcli/tdb_index.c) built over the graft-written
    // package — its indexed dump must also agree (the reference suite's
    // with/without-index equality, here over OUR lexicons and layout)
    val makeBin = s"$repoRoot/tools/refbin/tdb-make"
    if (!Files.exists(Paths.get(makeBin)))
      Process(Seq("sh", s"$repoRoot/tools/refdump/build_full.sh")).!
    val cIndexed = Files.exists(Paths.get(makeBin)) && {
      val rc = Process(Seq(makeBin, "index", "-i", pkg)).!
      rc == 0 && Files.exists(Paths.get(s"$pkg.index"))
    }

    def randTerm(): String = rnd.nextInt(10) match {
      case 0 => s"etype=${etypes(rnd.nextInt(4))}"        // known equality
      case 1 => s"tag=${Seq("t0","t1","t2")(rnd.nextInt(3))}"
      case 2 => s"etype!=${etypes(rnd.nextInt(4))}"        // negation
      case 3 => "tag="                                     // empty value
      case 4 => "tag!="                                    // negated empty
      case 5 => "etype=zzz"                                // unknown value
      case 6 => if (rnd.nextBoolean()) "ghost=x" else "ghost!=x" // unknown field
      case 7 => s"tag=@$valFile"                           // @file value
      case 8 => s"etype=@$emptyFile"                       // @file empty
      case _ => s"tag!=${tags(rnd.nextInt(5))}"
    }
    def randFilter(): String =
      Seq.fill(1 + rnd.nextInt(3))(
        Seq.fill(1 + rnd.nextInt(4))(randTerm()).mkString(" ")
      ).mkString(" & ")

    // C dump order = little-endian u128 uuid order, stored event order
    def leKey(u: String): String = u.grouped(2).toSeq.reverse.mkString
    def graftBytes(rows: Seq[(String, Long, String, String)]): String =
      rows.sortBy(t => (leKey(t._1), t._2)).map { case (u, t, e, g) =>
        s"""{"uuid": "$u", "time": "$t", "etype": "$e", "tag": "$g"}\n"""
      }.mkString
    def collectRows(d: org.apache.spark.sql.DataFrame) =
      d.select(col("uuid"), col("time"),
          coalesce(col("etype"), lit("")).as("etype"),
          coalesce(col("tag"), lit("")).as("tag"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2),
          r.getString(3))).toSeq

    // anchor: the unfiltered dumps agree byte-for-byte (package fidelity)
    assert(Process(Seq(refBin, "dump", "-j", "-i", pkg)).!! ===
      graftBytes(collectRows(base.df)))

    var pruned = 0
    var nonEmpty = 0
    (0 until 60).foreach { i =>
      val fstr = randFilter()
      val cOut = Process(Seq(refBin, "dump", "-j", "-i", pkg, "-F", fstr)).!!
      val filter = graft.filter.EventFilter.parse(fstr)
      val got = collectRows(base.withFilter(filter).df)
      assert(cOut === graftBytes(got),
        s"filter #$i '$fstr': C engine and graft disagree")
      if (got.nonEmpty) nonEmpty += 1
      // index-pruned scan must return the identical rows (false positives
      // re-checked by the full filter; false negatives would diverge here)
      val pages = graft.core.TrailIndex.candidatePages(index, filter)
      if (pages.isDefined) pruned += 1
      val viaIdx = collectRows(
        graft.core.TrailIndex.prunedDb(base.withFilter(filter), pages).df)
      assert(got.sorted === viaIdx.sorted,
        s"filter #$i '$fstr': index-pruned scan diverges")
      // the C engine's own index-pruned dump (refBin has tdb_index_find
      // stubbed to NULL, so cOut above was the UNINDEXED C path).
      //
      // REFERENCE BUG found by this differential: a POSITIVE term whose
      // item is unresolvable (unknown field, or a value not in the
      // lexicon → item 0) SEGFAULTS the reference's indexed dump —
      // get_index_pages returns NULL for field_offset 0 WITHOUT setting
      // *num_pages (tdbcli/tdb_index.c:528-529), and the match loop then
      // reads NULL[k] for an uninitialized count (:598-600). `--no-index`
      // and graft are both correct (graft: candidatePages proves Some(∅)
      // and returns zero rows). The C-indexed leg therefore only runs
      // for filters whose positive terms all resolve.
      val unresolvablePositive = fstr.contains("etype=zzz") ||
        fstr.split("\\s+").contains("ghost=x")
      if (cIndexed && !unresolvablePositive) {
        val cIdx = Process(Seq(makeBin, "dump", "-j", "-i", pkg,
          "-F", fstr)).!!
        assert(cIdx === cOut,
          s"filter #$i '$fstr': C indexed dump diverges from unindexed")
      }
    }
    assert(cIndexed, "C-side index differential did not run")
    // the draw must exercise both regimes, not vacuously pass
    assert(pruned >= 10, s"only $pruned/60 filters were index-prunable")
    assert(nonEmpty >= 10, s"only $nonEmpty/60 filters matched any event")
  }

  test("value-id boundary reverts and zero-field dbs round-trip both engines (off_by_one_encoding_bug.c, zero_fields.c)") {
    requireBinary()
    // 1. the off-by-one regression fixture verbatim: single-event trails
    // whose second field walks a1→a2→a3 with REVERTS (a3→a2), a constant
    // first field — the exact value-id boundary pattern the reference's
    // historic encode bug corrupted. uuid = memcpy(&i, 4) little-endian.
    val events = Seq((0, "a1"), (10, "a1"), (100, "a1"), (200, "a2"),
      (300, "a2"), (400, "a3"), (500, "a2"), (600, "a3"), (700, "a2"))
    val rows = events.zipWithIndex.map { case ((t, v), i) =>
      (f"$i%02x" + "00" * 15, t.toLong, "cli", v)
    }
    val dir = Files.createTempDirectory("graft-interop-ob1")
    val pkg = s"$dir/ob1.tdb"
    TdbWriter.writePackage(
      rows.toDF("uuid", "time", "a", "b")
        .withColumn("seq", monotonically_increasing_id()),
      Seq("a", "b"), pkg)
    val c = cDumpJson(pkg).map { case (u, t, m) => (u, t, m("a"), m("b")) }
    assert(c === rows, "C dump diverges on the off-by-one fixture")

    // 2. zero user fields (zero_fields.c: tdb_num_fields == 1, time
    // only): 100 trails of varying length, uuid+time and nothing else —
    // through the writer, the C engine, and graft's reader
    val zf = for {
      i <- 0 until 100
      j <- 0 until (3 + i % 5)
    } yield (f"$i%02x" + "00" * 15, j.toLong)
    val zpkg = s"$dir/zf.tdb"
    TdbWriter.writePackage(
      zf.toDF("uuid", "time")
        .withColumn("seq", monotonically_increasing_id()),
      Seq.empty, zpkg)
    val cz = Process(Seq(refBin, "dump", "-c", "-i", zpkg)).!!
      .linesIterator.filter(_.nonEmpty).map { l =>
        val p = l.split(" "); (p(0), p(1).toLong)
      }.toSeq
    assert(cz.sorted === zf.sorted, "C dump diverges on the zero-field db")
    val gz = spark.read.format("tdb").load(zpkg)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(gz.sorted === zf.sorted, "graft reader diverges on zero fields")
  }

  test("reference engine reads wide timestamps at the 47-bit delta edge (tests/c-tests/wide_timestamps.c)") {
    requireBinary()
    // a delta near the 47-bit bound (2^47 - 2^32), plus the
    // wide_timestamps.c shapes: small min + huge delta, and the
    // UINT32_MAX straddle — all through the C engine, byte-for-byte
    val MaxTd = (1L << 47) - 1
    val u = "0" * 32
    val times = Seq(1L, 2L, 0xffffffffL, 0x100000000L, MaxTd + 1L)
    val df = times.zipWithIndex
      .map { case (t, i) => (u, t, s"e$i") }.toDF("uuid", "time", "etype")
    val dir = Files.createTempDirectory("graft-interop-widets")
    val pkg = s"$dir/wide.tdb"
    TdbWriter.writePackage(df, Seq("etype"), pkg)
    val c = cDumpJson(pkg).map { case (_, t, m) => (t, m("etype")) }
    assert(c === times.zipWithIndex.map { case (t, i) => (t, s"e$i") })
  }
}
