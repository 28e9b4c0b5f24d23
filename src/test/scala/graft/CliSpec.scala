package graft

import java.nio.file.Files
import graft.cli.Main
import graft.core.TrailDB

/** End-to-end CLI flow mirroring the reference's tdbcli tests
  * (tests/tdbcli/test_tdbcli.py: make → dump round trip, merge). */
class CliSpec extends SparkSpec {

  test("make → dump → merge end-to-end") {
    val dir = Files.createTempDirectory("graft-cli")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype,val\n" +
      (0 until 20).map(i => f"${i % 4}%032x,${100 + i},e${i % 3},v$i").mkString("\n"))

    Main.run(spark, "make", Seq("-o", s"$dir/db1", "-c", csv.toString,
      "-f", "etype,val", "--csv-header"))
    val db1 = TrailDB.open(spark, s"$dir/db1")
    assert(db1.numEvents === 20)
    assert(db1.numTrails === 4)

    // dump with filter + uuid whitelist
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db1", "-F", "etype=e0 etype=e1",
      "--uuids", f"${0}%032x", "-o", s"$dir/dump1", "--csv-header"))
    val dumped = spark.read.option("header", "true").csv(s"$dir/dump1")
    assert(dumped.count() > 0)
    assert(dumped.select("uuid").distinct().count() === 1)

    Main.run(spark, "merge", Seq("-o", s"$dir/merged",
      "-i", s"$dir/db1", "-i", s"$dir/db1"))
    val merged = TrailDB.open(spark, s"$dir/merged")
    assert(merged.numEvents === 40)
    assert(merged.numTrails === 4)

    Main.run(spark, "index", Seq("-i", s"$dir/merged"))

    // dump --index: pruned scan must return the same rows as the plain
    // filtered dump (the index only skips pages, never rows)
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/merged", "-F", "etype=e1",
      "-o", s"$dir/dump-plain", "--csv-header"))
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/merged", "-F", "etype=e1",
      "--index", s"$dir/merged.index", "-o", s"$dir/dump-idx", "--csv-header"))
    val plain = spark.read.option("header", "true").csv(s"$dir/dump-plain")
      .collect().map(_.toString).sorted.toSeq
    val viaIdx = spark.read.option("header", "true").csv(s"$dir/dump-idx")
      .collect().map(_.toString).sorted.toSeq
    assert(viaIdx === plain && plain.nonEmpty)

    // diff: db1 vs a retention-trimmed rebuild of itself — the removed
    // rows are reported, the event-level parquet matches, and a diff of
    // a db against itself is empty
    Main.run(spark, "make", Seq("-o", s"$dir/db1cut", "-c", csv.toString,
      "-f", "etype,val", "--csv-header"))
    val cutDb = TrailDB.open(spark, s"$dir/db1cut")
    new graft.core.TrailDBCons(spark, cutDb.fields)
      .add(cutDb.compact(keepLast = 3))
      .finalizeTo(s"$dir/db1cut2")
    Main.run(spark, "diff", Seq("-i", s"$dir/db1", "-i", s"$dir/db1cut2",
      "-o", s"$dir/diffout", "--summary"))
    val dd = spark.read.parquet(s"$dir/diffout")
    assert(dd.columns.contains("n_removed"))
    // 4 trails × 5 events trimmed to keepLast=3 → 8 removed, 0 added
    import org.apache.spark.sql.functions.sum
    val tot = dd.agg(sum("n_added"), sum("n_removed")).head()
    assert(tot.getLong(0) === 0L && tot.getLong(1) === 8L)
    assert(graft.core.TrailOps.diff(db1, db1).count() === 0L)

    // rewriting the db makes the CLI refuse the stale index loudly
    Thread.sleep(5)
    Main.run(spark, "merge", Seq("-o", s"$dir/merged",
      "-i", s"$dir/db1", "-i", s"$dir/db1"))
    val stale = intercept[IllegalStateException] {
      Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/merged", "-F", "etype=e1",
        "--index", s"$dir/merged.index", "-o", s"$dir/dump-stale"))
    }
    assert(stale.getMessage.contains("STALE INDEX"), stale.getMessage)
  }

  test("make --tdb-format pkg emits a package beside the dir (reference flag parity)") {
    val dir = Files.createTempDirectory("graft-cli-tdbfmt")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 12).map(i => f"${i % 3}%032x,${100 + i},e${i % 2}").mkString("\n"))
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header", "--tdb-format", "pkg"))
    val back = spark.read.format("tdb").load(s"$dir/db.tdb")
    assert(back.count() === 12L)
    // 'dir' is the default layout — a no-op beyond the parquet db
    Main.run(spark, "make", Seq("-o", s"$dir/db2", "-c", csv.toString,
      "-f", "etype", "--csv-header", "--tdb-format", "dir"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/db2.tdb")))
    // anything else refuses with the bad-args exit class
    val e = intercept[graft.core.GraftError.BadArgs] {
      Main.run(spark, "make", Seq("-o", s"$dir/db3", "-c", csv.toString,
        "-f", "etype", "--csv-header", "--tdb-format", "zip"))
    }
    assert(e.getMessage.contains("pkg"), e.getMessage)
    // merge honors the same flag (op_merge.c:216-219: the option table is
    // global) — the merged package carries both inputs' events
    Main.run(spark, "merge", Seq("-o", s"$dir/m", "-i", s"$dir/db",
      "-i", s"$dir/db2", "--tdb-format", "pkg"))
    val mback = spark.read.format("tdb").load(s"$dir/m.tdb")
    assert(mback.count() === 24L)
  }

  test("diff --summary-limit truncates loudly; default path bounded (r8 VERDICT)") {
    val dir = Files.createTempDirectory("graft-cli-difflim")
    def writeCsv(name: String, rows: Int): String = {
      val p = dir.resolve(name)
      Files.writeString(p,
        "uuid,time,etype\n" +
        (0 until rows).map(i => f"${i % 5}%032x,${100 + i},e${i % 2}").mkString("\n"))
      p.toString
    }
    Main.run(spark, "make", Seq("-o", s"$dir/a", "-c", writeCsv("a.csv", 25),
      "-f", "etype", "--csv-header"))
    Main.run(spark, "make", Seq("-o", s"$dir/b", "-c", writeCsv("b.csv", 15),
      "-f", "etype", "--csv-header"))
    def capture(args: Seq[String]): Seq[String] = {
      val bos = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
        Main.run(spark, "diff", args)
      }
      bos.toString("UTF-8").linesIterator.toSeq
    }
    // 5 trails differ; a limit of 2 must print 2 rows + a loud truncation
    val lim = capture(Seq("-i", s"$dir/a", "-i", s"$dir/b",
      "--summary", "--summary-limit", "2"))
    assert(lim.count(_.matches("^[0-9a-f]{32} \\+\\d+ -\\d+$")) === 2, lim)
    assert(lim.exists(_.contains("summary truncated at 2 trails")), lim)
    // unlimited (0) prints all 5, no truncation note
    val full = capture(Seq("-i", s"$dir/a", "-i", s"$dir/b",
      "--summary", "--summary-limit", "0"))
    assert(full.count(_.matches("^[0-9a-f]{32} \\+\\d+ -\\d+$")) === 5, full)
    assert(!full.exists(_.contains("truncated")), full)
  }

  test("--uuids @file: whitelist from file on dump and make, counts like the reference (r5 VERDICT)") {
    val dir = Files.createTempDirectory("graft-cli-uuids")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 30).map(i => f"${i % 6}%032x,${100 + i},e${i % 3}").mkString("\n"))
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header"))

    // file with 2 present uuids + 1 valid-but-missing + 1 invalid
    // (reference: tdbcli/filter.c:164-186 — one uuid per line, invalid and
    // missing entries ignored, never fatal)
    val uf = dir.resolve("uuids.txt")
    Files.writeString(uf, Seq(
      f"${0}%032x", f"${3}%032x", f"${55}%032x", "not-a-uuid").mkString("\n"))

    val errBuf = new java.io.ByteArrayOutputStream()
    Console.withErr(new java.io.PrintStream(errBuf)) {
      Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "--uuids", s"@$uf",
        "-o", s"$dir/dump-uf", "--csv-header"))
    }
    val dumped = spark.read.option("header", "true").csv(s"$dir/dump-uf")
    assert(dumped.select("uuid").distinct().count() === 2)
    assert(dumped.count() === 10) // trails 0 and 3 have 5 events each

    // comma-list form stays equivalent (t_whitelist semantics unchanged)
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db",
      "--uuids", f"${0}%032x,${3}%032x", "-o", s"$dir/dump-cl", "--csv-header"))
    val viaList = spark.read.option("header", "true").csv(s"$dir/dump-cl")
      .collect().map(_.toString).sorted.toSeq
    val viaFile = dumped.collect().map(_.toString).sorted.toSeq
    assert(viaFile === viaList && viaFile.nonEmpty)

    // make --uuids: the subset is selected at ingest
    Main.run(spark, "make", Seq("-o", s"$dir/db-sub", "-c", csv.toString,
      "-f", "etype", "--csv-header", "--uuids", s"@$uf"))
    val sub = TrailDB.open(spark, s"$dir/db-sub")
    assert(sub.numTrails === 2)
    assert(sub.numEvents === 10)

    // an unreadable uuid file dies loudly (reference DIEs too)
    val ex = intercept[RuntimeException] {
      Main.run(spark, "dump", Seq("-i", s"$dir/db",
        "--uuids", s"@$dir/nope.txt", "-o", s"$dir/dump-x"))
    }
    assert(ex.getMessage.contains("Could not read UUIDs"))

    // an explicitly-empty --uuids '' still applies and selects NOTHING —
    // silently dumping the whole db would be the -F '' trap (r6 review)
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "--uuids", "",
      "-o", s"$dir/dump-empty", "--csv-header"))
    assert(spark.read.option("header", "true").csv(s"$dir/dump-empty")
      .count() === 0)

    // uppercase entries match the lowercase-stored hex (the reference
    // hex-decodes, so its match is case-insensitive too — r6 review)
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db",
      "--uuids", f"${0}%032x".toUpperCase, "-o", s"$dir/dump-uc",
      "--csv-header"))
    assert(spark.read.option("header", "true").csv(s"$dir/dump-uc")
      .count() === 5)

    // a valid uuid listed twice is deduplicated, never counted invalid
    val errBuf2 = new java.io.ByteArrayOutputStream()
    val prevErr = System.err
    System.setErr(new java.io.PrintStream(errBuf2))
    try Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db",
      "--uuids", f"${0}%032x,${0}%032x", "-o", s"$dir/dump-dup",
      "--csv-header"))
    finally System.setErr(prevErr)
    assert(errBuf2.toString.contains("Found 2 UUIDs: 1 selected, 0 missing, 0 invalid."),
      errBuf2.toString)
  }

  test("merge applies -F and --uuids to every input db (op_merge.c:223-226)") {
    val dir = Files.createTempDirectory("graft-cli-msel")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 20).map(i => f"${i % 4}%032x,${100 + i},e${i % 2}").mkString("\n"))
    Main.run(spark, "make", Seq("-o", s"$dir/a", "-c", csv.toString,
      "-f", "etype", "--csv-header"))
    Main.run(spark, "merge", Seq("-o", s"$dir/m", "-i", s"$dir/a",
      "-i", s"$dir/a", "-F", "etype=e0", "--uuids", f"${1}%032x"))
    val m = TrailDB.open(spark, s"$dir/m")
    // trail 1 has 5 events per input, etype=e0 keeps the odd-index ones
    // (i%4==1 && i%2==0 is empty → check against a direct recompute)
    val expect = spark.read.option("header", "true").csv(csv.toString)
      .filter(org.apache.spark.sql.functions.col("uuid") === f"${1}%032x")
      .filter(org.apache.spark.sql.functions.col("etype") === "e0")
      .count() * 2
    assert(m.numEvents === expect)
    assert(m.df.select("uuid").distinct().count() <= 1)
  }

  test("failures classify to distinct tdb_error-style exit codes (F5)") {
    import graft.core.GraftError
    val dir = Files.createTempDirectory("graft-cli-err")

    // bad args: missing required flag → 2
    val badArgs = intercept[GraftError] { Main.run(spark, "dump", Seq()) }
    assert(GraftError.classify(badArgs) === ("TDB_ERR_ARGS", 2))
    // unknown op → 2
    val badOp = intercept[GraftError] { Main.run(spark, "frobnicate", Seq()) }
    assert(GraftError.classify(badOp)._2 === 2)

    // open failure: nonexistent db → 3 (TDB_ERR_IO_OPEN, src/tdb.c:616-617)
    val noDb = intercept[GraftError] {
      Main.run(spark, "dump", Seq("-i", s"$dir/nope"))
    }
    assert(GraftError.classify(noDb) === ("TDB_ERR_IO_OPEN", 3))

    // build a real db for the parse/stale cases
    val csv = dir.resolve("in.csv")
    Files.writeString(csv, "uuid,time,etype\n" + f"${1}%032x,100,e0\n")
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header"))

    // filter parse error → 4
    val badF = intercept[GraftError] {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "-F", "no_such_op~~x"))
    }
    assert(GraftError.classify(badF) === ("TDB_ERR_FILTER_PARSE", 4))

    // stale index → 5 (still an IllegalStateException for API callers)
    Main.run(spark, "index", Seq("-i", s"$dir/db"))
    Thread.sleep(5)
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header"))
    val stale = intercept[IllegalStateException] {
      Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "-F", "etype=e0",
        "--index", s"$dir/db.index", "-o", s"$dir/d"))
    }
    assert(GraftError.classify(stale) === ("TDB_ERR_STALE_INDEX", 5))
  }

  test("flag values may start with '-'; a value-taking flag with no value fails loudly (r2 ADVICE)") {
    val dir = Files.createTempDirectory("graft-cli-flags")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      f"${1}%032x,100,-x\n" +   // field VALUE is the string "-x"
      f"${1}%032x,200,ok\n")
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header"))
    // -F value starting with '-' must be consumed as the filter, not dropped
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "-F", "etype=-x",
      "-o", s"$dir/dump", "--csv-header"))
    val dumped = spark.read.option("header", "true").csv(s"$dir/dump")
    assert(dumped.count() === 1)
    assert(dumped.head().getAs[String]("etype") === "-x")
    // -F followed by a known flag = missing value → loud error, NOT an
    // unfiltered dump
    val ex = intercept[RuntimeException] {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "-F", "-o", s"$dir/bad"))
    }
    assert(ex.getMessage.contains("requires a value"))
    // trailing value-taking flag with nothing after it → same loud error
    val ex2 = intercept[RuntimeException] {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "-F"))
    }
    assert(ex2.getMessage.contains("requires a value"))
    // explicitly-EMPTY -F '' applies the reference's parse_filter("")
    // semantics (one empty clause = match NOTHING) — it must not be
    // silently dropped into an unfiltered dump
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "-F", "",
      "-o", s"$dir/dump-none", "--csv-header"))
    assert(spark.read.option("header", "true").csv(s"$dir/dump-none").count() === 0)
  }

  test("json dump: --json-no-empty drops empty values (op_dump.c:69-90)") {
    val dir = Files.createTempDirectory("graft-json")
    val csv = dir.resolve("in.csv")
    // second row leaves 'val' empty → NULL ≡ ''
    Files.writeString(csv,
      "uuid,time,etype,val\n" +
      f"${1}%032x,100,click,hello\n" +
      f"${1}%032x,200,view,\n")
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype,val", "--csv-header"))

    // -j is a boolean switch for dump — it must NOT swallow the following -o
    Main.run(spark, "dump", Seq("-i", s"$dir/db", "-j", "-o", s"$dir/plain"))
    val plain = spark.read.json(s"$dir/plain").orderBy("time").collect()
    assert(plain.map(_.getAs[String]("val")).toSeq === Seq("hello", ""))

    // -j followed directly by --json-no-empty: neither flag may eat the other
    Main.run(spark, "dump", Seq("-i", s"$dir/db", "-j", "--json-no-empty",
      "-o", s"$dir/noempty"))
    val kept = spark.read.json(s"$dir/noempty")
    // empty value dropped entirely from the second row's JSON object
    assert(kept.filter(org.apache.spark.sql.functions.col("val").isNull).count() === 1)
    assert(kept.filter(org.apache.spark.sql.functions.col("val") === "hello").count() === 1)
  }

  test("make -f N:name maps out-of-order positional CSV columns (op_make.c:93-117)") {
    val dir = Files.createTempDirectory("graft-cli-posf")
    val csv = dir.resolve("in.csv")
    // headerless; uuid in col 2, time in col 4, fields from cols 5 and 1 —
    // deliberately out of order and with an ignored column (3)
    Files.writeString(csv,
      (0 until 12).map(i =>
        s"v${i % 3},${f"${i % 4}%032x"},junk$i,${100 + i},e${i % 2}")
        .mkString("\n"))
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "2:uuid,4:time,5:etype,1:vcol"))
    val db = TrailDB.open(spark, s"$dir/db")
    assert(db.numTrails === 4 && db.numEvents === 12)
    // fields appear in ARG order (etype before vcol), values routed by
    // column id, the unlisted col 3 ignored
    assert(db.fields === Seq("etype", "vcol"))
    val r = db.df.filter(org.apache.spark.sql.functions.col("time") === 100)
      .select("etype", "vcol").head()
    assert(r.getString(0) === "e0" && r.getString(1) === "v0")

    // same data via the name-mapped header path must round-trip identically
    val csvh = dir.resolve("inh.csv")
    Files.writeString(csvh, "vcol,uuid,junk,time,etype\n" +
      Files.readString(csv))
    Main.run(spark, "make", Seq("-o", s"$dir/dbh", "-c", csvh.toString,
      "-f", "etype,vcol", "--csv-header"))
    val viaHeader = TrailDB.open(spark, s"$dir/dbh").df
      .select("uuid", "time", "etype", "vcol")
      .collect().map(_.toString).sorted.toSeq
    val viaPos = db.df.select("uuid", "time", "etype", "vcol")
      .collect().map(_.toString).sorted.toSeq
    assert(viaPos === viaHeader && viaPos.nonEmpty)

    // malformed specs refuse loudly: missing uuid/time, bad index, dup id,
    // and the ambiguous positional+header combination
    def bad(fields: String, extra: Seq[String] = Nil) =
      intercept[graft.core.GraftError.BadArgs] {
        Main.run(spark, "make", Seq("-o", s"$dir/x", "-c", csv.toString,
          "-f", fields) ++ extra)
      }
    assert(bad("2:uuid,5:etype").getMessage.contains("time"))
    assert(bad("0:uuid,4:time").getMessage.contains(">= 1"))
    assert(bad("2:uuid,4:time,2:etype").getMessage.contains("duplicate"))
    assert(bad("2:uuid,4:time,5:").getMessage.contains("N:name"))
    assert(bad("2:uuid,4:time,5:etype", Seq("--csv-header"))
      .getMessage.contains("mutually exclusive"))
  }

  test("dump auto-discovers DB.index and --no-index disables it (op_dump.c:227-252)") {
    val dir = Files.createTempDirectory("graft-cli-autoidx")
    val csv = dir.resolve("in.csv")
    // uuids differ in the FIRST two hex chars — one index page (prefix
    // len 2) per trail, so the candidate count reflects REAL pruning
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 40).map(i => f"${i % 8}%02x${"00" * 15},${100 + i},e${i % 4}")
        .mkString("\n"))
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header"))
    Main.run(spark, "index", Seq("-i", s"$dir/db"))  // default: db.index

    // progress lines go to STDERR and only under -v (reference parity:
    // op_dump.c prints under opt->verbose), so capture both streams
    def capture(args: Seq[String]): (Seq[String], Seq[String]) = {
      val out = new java.io.ByteArrayOutputStream()
      val err = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
        Console.withErr(new java.io.PrintStream(err, true, "UTF-8")) {
          Main.run(spark, "dump", args)
        }
      }
      (out.toString("UTF-8").linesIterator.toSeq,
        err.toString("UTF-8").linesIterator.toSeq)
    }
    // no --index flag: the canonical sibling path is probed and used, and
    // the reference's progress line is printed (stderr, -v only)
    val (autoOut, auto) = capture(Seq("-i", s"$dir/db", "-F", "etype=e1",
      "-v", "-o", s"$dir/dump-auto", "--csv-header"))
    // etype=e1 lives in trails 1 and 5 only → the index prunes 8 → 2, and
    // the reference-style line reports candidates out of ALL db trails
    assert(auto.exists(_.contains(
      s"using index at $dir/db.index. Evaluating 2/8 (25.00%) trails.")), auto)
    assert(!autoOut.exists(_.contains("Evaluating")), autoOut)
    // -v is scoped to its op: the shared JVM is back at WARN afterwards
    assert(org.apache.logging.log4j.LogManager.getRootLogger.getLevel ===
      org.apache.logging.log4j.Level.WARN)
    // without -v: silent on both streams (but still index-pruned)
    val (quietOut, quietErr) = capture(Seq("-i", s"$dir/db", "-F",
      "etype=e1", "-o", s"$dir/dump-quiet", "--csv-header"))
    assert(!(quietOut ++ quietErr).exists(_.contains("Evaluating")),
      (quietOut, quietErr))
    // --no-index: same rows, no index line
    val (_, noIdx) = capture(Seq("-i", s"$dir/db", "-F", "etype=e1", "-v",
      "--no-index", "-o", s"$dir/dump-noidx", "--csv-header"))
    assert(noIdx.exists(_.contains("not using an index")), noIdx)
    def rows(p: String) = spark.read.option("header", "true").csv(p)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/dump-auto") === rows(s"$dir/dump-noidx"))
    assert(rows(s"$dir/dump-quiet") === rows(s"$dir/dump-noidx"))
    assert(rows(s"$dir/dump-auto").nonEmpty)
    // --no-index beats an explicit --index too (the reference's
    // !opt->no_index guards BOTH discovery and --index-path)
    val (_, both) = capture(Seq("-i", s"$dir/db", "-F", "etype=e1", "-v",
      "--no-index", "--index", s"$dir/db.index", "-o", s"$dir/dump-both",
      "--csv-header"))
    assert(both.exists(_.contains("not using an index")), both)
    assert(rows(s"$dir/dump-both") === rows(s"$dir/dump-noidx"))

    // a STRAY non-index file at a canonical path downgrades with a stderr
    // note instead of failing a previously-working `dump -F`: copy the db
    // (no index of its own), plant garbage at its DB.index slot
    Main.run(spark, "make", Seq("-o", s"$dir/db2", "-c", csv.toString,
      "-f", "etype", "--csv-header"))
    java.nio.file.Files.writeString(dir.resolve("db2.index"), "not an index")
    val (_, stray) = capture(Seq("-i", s"$dir/db2", "-F", "etype=e1", "-v",
      "-o", s"$dir/dump-stray", "--csv-header"))
    assert(stray.exists(s => s.contains("ignoring") &&
      s.contains(s"$dir/db2.index")), stray)
    assert(stray.exists(_.contains("not using an index")), stray)
    assert(rows(s"$dir/dump-stray") === rows(s"$dir/dump-noidx"))
  }

  test("dump --single-file writes ONE file with the directory dump's content (op_dump.c single stream)") {
    val dir = Files.createTempDirectory("graft-cli-single")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 24).map(i => f"${i % 6}%032x,${100 + i},e${i % 3}")
        .mkString("\n"))
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header"))
    Main.run(spark, "dump", Seq("-i", s"$dir/db", "--single-file",
      "-d", ",", "--csv-header", "-o", s"$dir/one.csv"))
    // one FILE, not a Spark part-file directory
    assert(java.nio.file.Files.isRegularFile(dir.resolve("one.csv")))
    Main.run(spark, "dump", Seq("-i", s"$dir/db", "-d", ",",
      "--csv-header", "-o", s"$dir/parts"))
    def lines(p: java.nio.file.Path): Seq[String] =
      java.nio.file.Files.readAllLines(p).toArray.map(_.toString).toSeq
    val single = lines(dir.resolve("one.csv"))
    val parts = spark.read.option("header", "true").csv(s"$dir/parts")
      .collect().map(r => s"${r.getString(0)},${r.getString(1)},${r.getString(2)}")
    assert(single.head === "uuid,time,etype") // header row like the reference
    assert(single.tail.sorted === parts.sorted.toSeq)
    // the single file is globally (uuid, time) ordered — the dir form
    // only orders within parts
    assert(single.tail === single.tail.sorted)
    // JSON form too
    Main.run(spark, "dump", Seq("-i", s"$dir/db", "--single-file", "-j",
      "-o", s"$dir/one.json"))
    val j = lines(dir.resolve("one.json"))
    assert(j.size === 24 && j.forall(l => l.startsWith("{\"uuid\": ") &&
      l.endsWith("}")), j.take(2))

    // no -o: the FULL raw dump streams to stdout (the reference's
    // default output target), not a truncated table
    val bos = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(bos, true, "UTF-8")) {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "-d", ",",
        "--csv-header"))
    }
    val stdout = bos.toString("UTF-8").linesIterator.toSeq
    assert(stdout === single, "stdout dump != --single-file dump")
  }

  test("getopt_long spelling parity: every reference long/short alias parses (main.c:152-171)") {
    val dir = Files.createTempDirectory("graft-cli-alias")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 12).map(i => f"${i % 3}%032x,${100 + i},e${i % 2}").mkString("\n"))

    // make with ONLY long spellings (--output/--csv/--fields)
    Main.run(spark, "make", Seq("--output", s"$dir/db", "--csv",
      csv.toString, "--fields", "etype", "--csv-header"))
    assert(TrailDB.open(spark, s"$dir/db").numEvents === 12)

    // dump: --input/--filter long forms, -f/-u/-d SHORT forms — all must
    // land on the same canonical flags as the native spellings
    Main.run(spark, "dump", Seq("--input", s"$dir/db", "--filter",
      "etype=e1", "-u", f"${0}%032x,${1}%032x", "-f", "uuid,time,etype",
      "-d", "|", "--output", s"$dir/dump-alias", "--csv-header"))
    Main.run(spark, "dump", Seq("-i", s"$dir/db", "-F", "etype=e1",
      "--uuids", f"${0}%032x,${1}%032x", "--fields", "uuid,time,etype",
      "--delimiter", "|", "-o", s"$dir/dump-native", "--csv-header"))
    def rows(p: String): Seq[String] = spark.read
      .option("header", "true").option("delimiter", "|").csv(p)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(s"$dir/dump-alias") === rows(s"$dir/dump-native"))
    assert(rows(s"$dir/dump-alias").nonEmpty)

    // index --index-path is -o's long spelling; dump accepts the same
    // flag name for the read side (the reference's one option table)
    Main.run(spark, "index", Seq("--input", s"$dir/db",
      "--index-path", s"$dir/alias.index"))
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "-F", "etype=e1",
      "--index-path", s"$dir/alias.index", "-o", s"$dir/dump-idx",
      "--csv-header"))
    def rows2(p: String): Seq[String] = spark.read
      .option("header", "true").csv(p).collect().map(_.toString).sorted.toSeq
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "-F", "etype=e1",
      "--no-index", "-o", s"$dir/dump-plain", "--csv-header"))
    assert(rows2(s"$dir/dump-idx") === rows2(s"$dir/dump-plain"))

    // -T strtoul parity: garbage or zero DIEs (main.c:229-234)
    for (bad <- Seq("x", "0", "-3"))
      assert(intercept[RuntimeException] {
        Main.run(spark, "dump", Seq("-i", s"$dir/db", "-T", bad))
      }.getMessage.contains("Invalid value for --threads"))
    // a valid -T is acknowledged, not fatal
    Main.run(spark, "dump", Seq("-d", ",", "-i", s"$dir/db", "--threads", "4",
      "-o", s"$dir/dump-t", "--csv-header"))
    assert(rows2(s"$dir/dump-t").nonEmpty)

    // -d multi-char delimiter DIEs for any op (main.c:217-220)
    assert(intercept[RuntimeException] {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "-d", "ab",
        "-o", s"$dir/dump-bad"))
    }.getMessage.contains("Delimiter must be one character"))
  }

  test("flag parsing: getopt_long '=' form works; unknown/empty-value flags refuse (r15)") {
    val dir = Files.createTempDirectory("graft-cli-flags")
    val csv = dir.resolve("in.csv")
    Files.writeString(csv,
      "uuid,time,etype\n" +
      (0 until 8).map(i => f"${i % 2}%032x,${100 + i},e${i % 2}").mkString("\n"))
    Main.run(spark, "make", Seq("-o", s"$dir/db", "-c", csv.toString,
      "-f", "etype", "--csv-header"))
    // '--filter=...' (the reference getopt_long spelling) must FILTER,
    // not silently no-op into a full dump
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "--filter=etype=e0",
        "--delimiter=,"))
    }
    val lines = out.toString.split("\n").filter(_.contains(","))
    assert(lines.length === 4 && lines.forall(_.endsWith("e0")))
    // a misspelled flag refuses loudly instead of silently dumping all
    assert(intercept[RuntimeException] {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "--fliter", "etype=e0"))
    }.getMessage.contains("unknown flag"))
    // an EMPTY delimiter refuses like the reference, instead of silently
    // using the default
    assert(intercept[RuntimeException] {
      Main.run(spark, "dump", Seq("-i", s"$dir/db", "--delimiter", "",
        "-o", s"$dir/dump-e"))
    }.getMessage.contains("Delimiter must be one character"))
    // make without any input refuses instead of writing an empty db
    assert(intercept[RuntimeException] {
      Main.run(spark, "make", Seq("-o", s"$dir/db2"))
    }.getMessage.contains("input is required"))
  }
}
