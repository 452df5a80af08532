package graft.sources

import graft.SparkSpec
import graft.marc.{Fixtures, MarcJson, MarcRecord}
import java.nio.file.{Files, Paths}

class SourcesSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("ISO-2709 codec round-trips the full fixture corpus") {
    val recs = Fixtures.records("test_data.utf8")
    recs.foreach { r =>
      val bytes = Iso2709.encode(r)
      val decoded = Iso2709.decodeAll(bytes)
      assert(decoded.length == 1)
      assert(decoded.head.fields == r.fields, s"fields mismatch")
      // leader lengths/base are recomputed on encode; compare the rest
      assert(decoded.head.leader.substring(5, 12) == r.leader.substring(5, 12))
    }
  }

  test("marc DSv2 reads an encoded corpus identically to the JSON fixtures") {
    val recs = Fixtures.records("test_data.utf8")
    val dir = tmpDir("marcdsv2")
    val out = Files.newOutputStream(Paths.get(dir, "data.mrc"))
    recs.foreach(r => out.write(Iso2709.encode(r)))
    out.close()

    val read = MarcIo.readBinary(spark, s"$dir/data.mrc").collect().toVector
    assert(read.length == 30)
    // compare by fields (leader re-derived lengths differ)
    val got = read.map(_.fields).sortBy(_.headOption.map(_.value).getOrElse(""))
    val want = recs.map(_.fields).sortBy(_.headOption.map(_.value).getOrElse(""))
    assert(got == want)
  }

  test("plausibleRecordAt accepts all-digit leader flags, rejects directory interiors") {
    val recs = Fixtures.records("test_data.utf8").take(3)
    val bytes = recs.flatMap(r => Iso2709.encode(r).toVector).toArray
    // a legal record whose status/type/level bytes (leader 5-9) are all
    // digits must still be recognized — the old heuristic skipped it
    for (i <- 5 until 10) bytes(i) = '9'.toByte
    assert(Iso2709.plausibleRecordAt(bytes, 0),
      "record with all-digit leader flags must be plausible")
    // true record starts are all plausible
    var off = 0
    for (r <- recs) {
      assert(Iso2709.plausibleRecordAt(bytes, off), s"true start $off")
      off += Iso2709.encode(r).length
    }
    // offsets inside the first record's all-numeric directory region must
    // not look like record starts (split alignment would duplicate data)
    val base = new String(bytes, 12, 5, "ASCII").toInt
    for (dirOff <- Iso2709.LeaderLength until (base - 1)) {
      assert(!Iso2709.plausibleRecordAt(bytes, dirOff),
        s"directory interior offset $dirOff wrongly plausible")
    }
  }

  test("marc DSv2 splits: small maxPartitionBytes still reads every record exactly once") {
    val recs = Fixtures.records("test_data.utf8")
    val dir = tmpDir("marcsplit")
    val out = Files.newOutputStream(Paths.get(dir, "data.mrc"))
    recs.foreach(r => out.write(Iso2709.encode(r)))
    out.close()

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "2048") // ~2 records per split
      val df = spark.read.format("marc").load(s"$dir/data.mrc")
      assert(df.rdd.getNumPartitions > 5, "expected many splits")
      val ids = df.collect().map(r =>
        r.getSeq[org.apache.spark.sql.Row](1).head.getString(3)).sorted.toVector
      val wantIds = recs.map(_.fields.head.value).sorted
      assert(ids == wantIds, "split reads must cover each record exactly once")
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("marc DSv2 splits: padded files lose no record when padding straddles a boundary") {
    // newline/NUL/space padding between records, varied lengths, so split
    // boundaries sweep through padding runs with no 0x1D ahead of the next
    // record — the padded-split loss scenario
    val recs = Fixtures.records("test_data.utf8")
    val dir = tmpDir("marcpad")
    val out = Files.newOutputStream(Paths.get(dir, "data.mrc"))
    recs.zipWithIndex.foreach { case (r, i) =>
      out.write(Iso2709.encode(r))
      out.write(("\n" * (1 + i % 5)).getBytes)
      if (i % 3 == 0) out.write(Array[Byte](0, 0, ' ', '\r'))
    }
    out.close()
    val wantIds = recs.map(_.fields.head.value).sorted

    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      for (split <- Seq("517", "1031", "2048", "4099")) {
        spark.conf.set("spark.sql.files.maxPartitionBytes", split)
        val ids = spark.read.format("marc").load(s"$dir/data.mrc")
          .collect().map(r => r.getSeq[org.apache.spark.sql.Row](1).head.getString(3))
          .sorted.toVector
        assert(ids == wantIds, s"split=$split must read each record exactly once")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("marc DSv2 splits: fuzzed padding and split sizes stay exactly-once") {
    // randomized padding runs (incl. stray terminators) × randomized split
    // sizes: the ownership protocol must deliver every record exactly once
    val recs = Fixtures.records("test_data.utf8")
    val wantIds = recs.map(_.fields.head.value).sorted
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    try {
      for (seed <- 1 to 4) {
        val rnd = new scala.util.Random(seed)
        val dir = tmpDir(s"marcfuzz$seed")
        val out = Files.newOutputStream(Paths.get(dir, "data.mrc"))
        val padBytes = Array[Byte]('\n', '\r', ' ', 0, Iso2709.RecordTerminator)
        recs.foreach { r =>
          out.write(Iso2709.encode(r))
          (0 until rnd.nextInt(7)).foreach(_ => out.write(padBytes(rnd.nextInt(padBytes.length))))
        }
        out.close()
        val split = 300 + rnd.nextInt(4700)
        spark.conf.set("spark.sql.files.maxPartitionBytes", split.toString)
        val ids = spark.read.format("marc").load(s"$dir/data.mrc")
          .collect().map(r => r.getSeq[org.apache.spark.sql.Row](1).head.getString(3))
          .sorted.toVector
        assert(ids == wantIds, s"seed=$seed split=$split must read exactly once")
      }
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("marc DSv2 provenance metadata columns: _input_file and _record_offset") {
    val recs = Fixtures.records("test_data.utf8").take(5)
    val dir = tmpDir("marcmeta")
    val out = Files.newOutputStream(Paths.get(dir, "data.mrc"))
    recs.foreach(r => out.write(Iso2709.encode(r)))
    out.close()
    val df = spark.read.format("marc").load(s"$dir/data.mrc")
      .select(org.apache.spark.sql.functions.col("leader"),
        org.apache.spark.sql.functions.col("_input_file"),
        org.apache.spark.sql.functions.col("_record_offset"))
    val rows = df.orderBy("_record_offset").collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getString(1).endsWith("data.mrc")))
    // offsets are the records' byte positions: strictly increasing, first 0,
    // and each gap equals the previous record's encoded length
    val offsets = rows.map(_.getLong(2))
    assert(offsets.head == 0L)
    val lens = recs.map(Iso2709.encode(_).length.toLong)
    assert(offsets.toSeq == lens.scanLeft(0L)(_ + _).take(5))
  }

  test("MARC-8 transcoder is total: never throws on arbitrary bytes") {
    for (seed <- 1 to 50) {
      val rnd = new scala.util.Random(seed)
      val bytes = Array.fill(rnd.nextInt(300))(rnd.nextInt(256).toByte)
      val s = Marc8.toUtf8(bytes, 0, bytes.length) // must not throw
      assert(s != null)
    }
    // pure ASCII is identity
    val ascii = "Hello, MARC world 123!"
    assert(Marc8.toUtf8(ascii.getBytes("ASCII"), 0, ascii.length) == ascii)
  }

  test("marc DSv2 column pruning serves a leader-only projection") {
    val recs = Fixtures.records("test_data.utf8").take(3)
    val dir = tmpDir("marcprune")
    val out = Files.newOutputStream(Paths.get(dir, "d.mrc"))
    recs.foreach(r => out.write(Iso2709.encode(r)))
    out.close()
    val leaders = spark.read.format("marc").load(s"$dir/d.mrc")
      .select("leader").collect().map(_.getString(0))
    assert(leaders.length == 3)
    assert(leaders.forall(_.length == 24))
  }

  test("writeBinary + readBinary round trip through the filesystem") {
    import graft.marc.MarcFunctions.marcRecordEncoder
    val recs = Fixtures.records("test_data.utf8")
    val ds = spark.createDataset(recs)
    val dir = tmpDir("marcout") + "/out"
    MarcIo.writeBinary(ds.repartition(3), dir)
    val back = MarcIo.readBinary(spark, dir).collect().toVector
    assert(back.map(_.fields).toSet == recs.map(_.fields).toSet)
  }

  test("marcout rerun with fewer partitions leaves no stale part files") {
    import graft.marc.MarcFunctions.marcRecordEncoder
    val recs = Fixtures.records("test_data.utf8")
    val ds = spark.createDataset(recs)
    val dir = tmpDir("marcoverwrite") + "/out"
    MarcIo.writeBinary(ds.repartition(4), dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".mrc")) == 4)
    // rerun into the same directory with fewer partitions: overwrite
    // semantics must clear the old part-000NN files and any temp residue
    MarcIo.writeBinary(ds.repartition(2), dir)
    val files = new java.io.File(dir).listFiles().map(_.getName).toVector.sorted
    assert(files.count(_.endsWith(".mrc")) == 2, files.toString)
    assert(!files.exists(_.endsWith(".tmp")), files.toString)
    assert(MarcIo.readBinary(spark, dir).count() == recs.length)
    // same contract for the XML part-file writer
    MarcIo.writeXml(ds.repartition(3), dir)
    val xfiles = new java.io.File(dir).listFiles().map(_.getName).toVector.sorted
    assert(xfiles.count(_.endsWith(".xml")) == 3, xfiles.toString)
    assert(!xfiles.exists(_.endsWith(".mrc")), xfiles.toString)
    assert(MarcIo.readXml(spark, s"$dir/*.xml").count() == recs.length)
  }

  test("MARC-XML reader maps the reference XML corpus") {
    // MARCXML rendering of the JSON fixture by tools/json2marcxml.py
    // (stdlib only, so graft's writer never makes its reader's input)
    val xml = getClass.getClassLoader.getResource("fixtures/test_data.utf8.marc.xml")
    val ds = MarcIo.readXml(spark, xml.getPath)
    val recs = ds.collect().toVector
    assert(recs.length == 30)
    val want = Fixtures.records("test_data.utf8")
    val byId = recs.map(r => r.fields.head.value -> r).toMap
    val wantById = want.map(r => r.fields.head.value -> r).toMap
    assert(byId.keySet == wantById.keySet)
    for (k <- wantById.keys) {
      assert(byId(k).leader == wantById(k).leader, s"record '$k' leader")
      assert(byId(k).fields == wantById(k).fields, s"record '$k' fields")
    }
  }
}
