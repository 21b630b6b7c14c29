package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import graft.sources.Warc

/** W1 — WARC container source: framing-exact parse of multi-member
  * gzip crawl files, proven against the JDK's own gzip decoder so the
  * reader and writer cannot share a compensating bug. */
class WarcSpec extends SparkSpec {
  import spark.implicits._

  private val pages = Seq(
    ("https://a.example/1", "<html><body><p>alpha beta gamma delta</p></body></html>"),
    ("https://a.example/2", "<html><body><p>one two three four</p></body></html>"),
    // CRLFs and a blank line INSIDE a body must ride through framing
    ("https://b.example/3", "<p>line one</p>\r\n\r\n<p>line two has words</p>"))

  test("writeFile round-trips every record through the reader") {
    val bytes = Warc.writeFile(pages, "test.warc.gz")
    val rows = Warc.parseAll("test.warc.gz", bytes).toSeq
    assert(rows.map(_.warc_type) === Seq("warcinfo", "response", "response", "response"))
    assert(rows.map(_.record_no) === Seq(0, 1, 2, 3))
    val resp = rows.filter(_.warc_type == "response")
    assert(resp.map(_.url) === pages.map(_._1))
    assert(resp.map(r => new String(r.body, UTF_8)) === pages.map(_._2))
    assert(resp.forall(_.http_status == 200))
    assert(resp.forall(_.mime == "text/html; charset=utf-8"))
  }

  test("the file is REAL multi-member gzip: each member decodes independently") {
    // build the file while tracking member offsets, then prove each
    // offset starts a self-contained member under the JDK decoder —
    // the property a seeking crawl reader depends on
    val members = Warc.warcinfoRecord("f") +: pages.map { case (u, h) =>
      Warc.responseRecord(u, h)
    }
    val gz = members.map(Warc.gzipMember)
    val offsets = gz.scanLeft(0)(_ + _.length).dropRight(1)
    val file = gz.reduce(_ ++ _)
    assert(file === Warc.writeFile(pages, "f"))
    offsets.zip(members).foreach { case (off, rec) =>
      val in = new java.util.zip.GZIPInputStream(
        new java.io.ByteArrayInputStream(file, off, file.length - off))
      val one = new Array[Byte](rec.length)
      var read = 0
      while (read < rec.length) {
        val r = in.read(one, read, rec.length - read)
        assert(r > 0); read += r
      }
      assert(one === rec)
    }
  }

  test("uncompressed .warc bytes parse identically") {
    val raw = (Warc.warcinfoRecord("f") +: pages.map { case (u, h) =>
      Warc.responseRecord(u, h)
    }).reduce(_ ++ _)
    val rows = Warc.parseAll("f.warc", raw).toSeq
    assert(rows.count(_.warc_type == "response") === 3)
    assert(rows.filter(_.warc_type == "response")
      .map(r => new String(r.body, UTF_8)) === pages.map(_._2))
  }

  test("a truncated payload fails loudly, never silently short") {
    val rec = Warc.responseRecord("https://a.example/1", "body text here")
    val cut = java.util.Arrays.copyOfRange(rec, 0, rec.length - 10)
    intercept[java.io.EOFException] {
      Warc.parseAll("t.warc", cut).toList
    }
  }

  test("HTTP body transforms decode: chunked, gzip, both, ISO-8859-1") {
    val plain = "<html><body><p>" + ("word " * 60).trim + "</p></body></html>"
    val latin = "<html><body><p>Café résumé München smørrebrød på vägen</p></body></html>"
    Seq("chunked", "gzip", "chunked+gzip").foreach { mode =>
      val rec = Warc.responseRecordEncoded("https://a.example/e", plain, mode)
      val row = Warc.parseAll("e.warc", rec).next()
      assert(row.http_status === 200, mode)
      assert(new String(row.body, UTF_8) === plain,
        s"mode '$mode' must decode to the original text")
    }
    val lrec = Warc.responseRecordEncoded("https://a.example/l", latin, "latin1")
    val lrow = Warc.parseAll("l.warc", lrec).next()
    assert(lrow.mime === "text/html; charset=iso-8859-1")
    // the WIRE bytes are Latin-1 (one byte per accented char), the
    // parsed body is UTF-8 — a reader that skips transcoding fails here
    assert(new String(lrow.body, UTF_8) === latin)
    // the writer refuses un-encodable content instead of mangling it
    intercept[IllegalArgumentException] {
      Warc.responseRecordEncoded("https://a.example/x", "snowman ☃", "latin1")
    }
    // unknown codings and charsets are loud, never garbage text
    def respWith(extra: String): Array[Byte] = {
      val body = "hi".getBytes(UTF_8)
      ("HTTP/1.1 200 OK\r\n" + extra +
        s"\r\nContent-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
    }
    def parse(http: Array[Byte]): Unit = {
      val rec = new java.io.ByteArrayOutputStream()
      rec.write(("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8))
      rec.write(http)
      rec.write("\r\n\r\n".getBytes(UTF_8))
      Warc.parseAll("x.warc", rec.toByteArray).toList
      ()
    }
    intercept[IllegalArgumentException] {
      parse(respWith("Content-Encoding: br\r\nContent-Type: text/html"))
    }
    intercept[IllegalArgumentException] {
      parse(respWith("Content-Type: text/html; charset=klingon-8"))
    }
    intercept[IllegalArgumentException] {
      parse(respWith("Transfer-Encoding: chunked\r\nContent-Type: text/html"))
    } // body 'hi' is not valid chunked framing → loud
  }

  test("chunk framing: extensions and trailers drop; malformed is loud") {
    val body = ("x" * 257).getBytes(UTF_8) // 3 chunks: 100+100+57
    val enc = Warc.chunkEncode(body)
    assert(new String(enc, UTF_8).startsWith("64;graft=1\r\n"))
    assert(new String(enc, UTF_8).contains("X-Trailer"))
    assert(Warc.dechunk(enc) === body)
    assert(Warc.dechunk(Warc.chunkEncode(Array.emptyByteArray)) === Array.emptyByteArray)
    intercept[IllegalArgumentException] { Warc.dechunk("zz\r\nhi\r\n".getBytes(UTF_8)) }
    intercept[java.io.EOFException] { Warc.dechunk("64\r\nshort".getBytes(UTF_8)) }
  }

  test("member-boundary corruption is LOUD, not a silent short read") {
    val gz = (Warc.warcinfoRecord("f") +: pages.map { case (u, h) =>
      Warc.responseRecord(u, h)
    }).map(Warc.gzipMember)
    val file = gz.reduce(_ ++ _)
    // corrupt the gzip magic of member 2: the JDK stream would stop
    // at member 1 and silently drop the rest; the walker must throw
    val off2 = gz(0).length + gz(1).length
    val corrupt = file.clone()
    corrupt(off2) = 'X'.toByte
    val ex = intercept[IllegalArgumentException] {
      Warc.parseAll("c.warc.gz", corrupt).toList
    }
    assert(ex.getMessage.contains(s"offset $off2") &&
      ex.getMessage.contains("c.warc.gz"))
    // trailing garbage after the last member is equally loud
    val trailing = file ++ "garbage".getBytes(UTF_8)
    val ex2 = intercept[IllegalArgumentException] {
      Warc.parseAll("t.warc.gz", trailing).toList
    }
    assert(ex2.getMessage.contains(s"offset ${file.length}"))
    // and the index walk reports the same boundary
    intercept[IllegalArgumentException] {
      Warc.indexMembersStream("c.warc.gz",
        new java.io.ByteArrayInputStream(corrupt)).toList
    }
  }

  test("gzip trailer corruption (CRC32/ISIZE) is LOUD on the stream path") {
    // A member whose deflate stream inflates cleanly but whose trailer
    // disagrees means the DATA is suspect — GZIPInputStream validated
    // this; the member walker must too (it reads raw deflate).
    val gz = (Warc.warcinfoRecord("f") +: pages.map { case (u, h) =>
      Warc.responseRecord(u, h)
    }).map(Warc.gzipMember)
    val file = gz.reduce(_ ++ _)
    val off2 = gz(0).length + gz(1).length // end of member 2
    val badCrc = file.clone()
    badCrc(off2 - 8) = (badCrc(off2 - 8) ^ 0x01).toByte // CRC32 LSB
    val ex = intercept[java.util.zip.ZipException] {
      Warc.parseAll("crc.warc.gz", badCrc).toList
    }
    assert(ex.getMessage.contains("CRC32 mismatch") &&
      ex.getMessage.contains("crc.warc.gz"))
    val badIsize = file.clone()
    badIsize(off2 - 4) = (badIsize(off2 - 4) ^ 0x01).toByte // ISIZE LSB
    val ex2 = intercept[java.util.zip.ZipException] {
      Warc.parseAll("isize.warc.gz", badIsize).toList
    }
    assert(ex2.getMessage.contains("ISIZE mismatch"))
    // intact file still parses end-to-end (the check is not over-eager)
    assert(Warc.parseAll("ok.warc.gz", file).toList.nonEmpty)
  }

  test("compound Transfer-Encoding ('gzip, chunked') is LOUD, not garbage") {
    val body = "hi".getBytes(UTF_8)
    val http = ("HTTP/1.1 200 OK\r\nTransfer-Encoding: gzip, chunked\r\n" +
      "Content-Type: text/html\r\n\r\n").getBytes(UTF_8) ++ body
    val rec = new java.io.ByteArrayOutputStream()
    rec.write(("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: u\r\n" +
      s"Content-Length: ${http.length}\r\n\r\n").getBytes(UTF_8))
    rec.write(http)
    rec.write("\r\n\r\n".getBytes(UTF_8))
    val ex = intercept[IllegalArgumentException] {
      Warc.parseAll("te.warc", rec.toByteArray).toList
    }
    assert(ex.getMessage.contains("Transfer-Encoding"))
  }

  test("streamed index walk is row-identical to the in-memory reference") {
    // includes an encoded record so member sizes vary, plus a
    // multi-buffer member (> 64 KB compressed read buffer)
    val big = "<p>" + ("lorem ipsum dolor sit amet " * 8000) + "</p>"
    val members = Seq(
      Warc.warcinfoRecord("f"),
      Warc.responseRecord("https://a.example/1", pages.head._2),
      Warc.responseRecordEncoded("https://a.example/2", big, "chunked+gzip"),
      Warc.responseRecord("https://a.example/3", big))
    val file = members.map(Warc.gzipMember).reduce(_ ++ _)
    val ref = Warc.indexMembers("f.warc.gz", file).toSeq
    val streamed = Warc.indexMembersStream("f.warc.gz",
      new java.io.ByteArrayInputStream(file)).toSeq
    assert(streamed === ref)
    var doneCalls = 0
    Warc.indexMembersStream("f.warc.gz",
      new java.io.ByteArrayInputStream(file), () => doneCalls += 1).toSeq
    assert(doneCalls === 1) // cleanup hook fires exactly once on drain
  }

  test("member index reproduces by-construction offsets; seek-reads round-trip") {
    // offsets computed two independent ways: scanLeft over the writer's
    // member sizes vs the Inflater walk over the final bytes
    val members = Warc.warcinfoRecord("f") +: pages.map { case (u, h) =>
      Warc.responseRecord(u, h)
    }
    val gz = members.map(Warc.gzipMember)
    val wantOffsets = gz.scanLeft(0L)(_ + _.length).dropRight(1)
    val file = gz.reduce(_ ++ _)
    val idx = Warc.indexMembers("f.warc.gz", file).toSeq
    assert(idx.map(_.offset) === wantOffsets)
    assert(idx.map(_.length) === gz.map(_.length.toLong))
    assert(idx.map(_.record_no) === Seq(0, 1, 2, 3))
    assert(idx.map(_.warc_type) === Seq("warcinfo", "response", "response", "response"))
    assert(idx.drop(1).map(_.url) === pages.map(_._1))
    // a non-gzip input is refused loudly (no member boundaries to index)
    val ex = intercept[IllegalArgumentException] {
      Warc.indexMembers("f.warc", members.head)
    }
    assert(ex.getMessage.contains("gzip"))
    // distributed: index files on disk, seek-read a SPARSE subset back
    val dir = s"/tmp/graft-warcidx-${System.nanoTime()}"
    val df = (0L until 60L)
      .map(i => (i, s"https://s.example/doc/$i", s"<p>doc $i body</p>"))
      .toDF("doc_id", "url", "html")
      .repartitionByRange(3, col("doc_id"))
    Warc.writeFiles(df, "url", "html", dir)
    val index = Warc.index(spark, s"$dir/*.warc.gz").localCheckpoint()
    assert(index.count() === 63L) // 60 responses + 3 warcinfo
    val wanted = index.where(col("warc_type") === "response")
      .where(expr("CAST(regexp_extract(url, '/doc/(\\\\d+)$', 1) AS BIGINT) % 7 = 0"))
    val got = Warc.readRecords(wanted)
      .select(col("url"), col("body").cast("string").as("html"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(got.size === 9) // ids 0,7,...,56
    (0L until 60L by 7).foreach { i =>
      assert(got(s"https://s.example/doc/$i") === s"<p>doc $i body</p>")
    }
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(dir))
  }

  test("streaming ingest: landed .warc.gz files parse incrementally, batch-parity") {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-stream").toFile
    def land(name: String, pgs: Seq[(String, String)]): Unit = {
      // write hidden then rename: the file source ignores dot-files, so
      // a trigger can never list a half-written landing
      val tmp = new java.io.File(dir, s".$name.tmp")
      val out = new java.io.FileOutputStream(tmp)
      try out.write(Warc.writeFile(pgs, name)) finally out.close()
      assert(tmp.renameTo(new java.io.File(dir, name)))
    }
    land("crawl-0.warc.gz", pages.take(2))
    val stream = Warc.responseStream(spark, dir.getAbsolutePath + "/*.warc.gz")
    assert(stream.isStreaming)
    val q = graft.operators.Html.htmlExtract(stream, "url", "html")
      .writeStream.format("memory").queryName("warc_stream_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("warc_stream_out").count() === 2L)
      // a file landing later is discovered incrementally, not rescanned
      land("crawl-1.warc.gz", pages.drop(2))
      q.processAllAvailable()
      val got = spark.table("warc_stream_out")
        .select("url", "content").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(got.keySet === pages.map(_._1).toSet)
      // batch parity: same rows as the batch reader through the batch op
      val want = graft.operators.Html.htmlExtract(
          Warc.responses(spark, dir.getAbsolutePath + "/*.warc.gz"), "url", "html")
        .select("url", "content").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(got === want)
    } finally {
      q.stop()
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("distributed writeFiles → records: one file per partition, all pages back") {
    val dir = s"/tmp/graft-warcspec-${System.nanoTime()}"
    val df = (0L until 97L)
      .map(i => (i, s"https://s${i % 5}.example/doc/$i",
        s"<html><body><p>document $i alpha beta gamma</p></body></html>"))
      .toDF("doc_id", "url", "html")
      // range partitioning: 4 GUARANTEED non-empty partitions (hash
      // repartition can collide values into fewer)
      .repartitionByRange(4, col("doc_id"))
    Warc.writeFiles(df, "url", "html", dir)
    val files = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_.startsWith(".")).sorted // drop local-FS .crc sidecars
    assert(files.length === 4 && files.forall(_.endsWith(".warc.gz")))
    val back = Warc.responses(spark, s"$dir/*.warc.gz")
    assert(back.count() === 97L)
    val got = back.select("url", "html").as[(String, String)].collect().toMap
    assert(got("https://s2.example/doc/7") ===
      "<html><body><p>document 7 alpha beta gamma</p></body></html>")
    // warcinfo records exist but are filtered from the responses view
    assert(Warc.records(spark, s"$dir/*.warc.gz")
      .where(col("warc_type") === "warcinfo").count() === 4L)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(dir))
  }
}
