package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import graft.sources.LocalFs

/** `file:` without process forks ([[LocalFs]]).
  *  - PARITY: on the same paths, every status field LocalFs reports
  *    (length, dir flag, times, permission with the sticky bit, owner,
  *    group, symlink target, path) equals the stock
  *    `RawLocalFileSystem`'s, through `getFileStatus`,
  *    `getFileLinkStatus`, `listStatus` and `listFiles`; create and
  *    mkdirs leave the same modes under each umask; missing paths throw
  *    `FileNotFoundException` in both. A rename answers as the stock
  *    `file:` class's (Hive's `ProxyLocalFileSystem` on Spark's
  *    classpath) and never replaces an existing file; FileContext
  *    renames lay out the stock files.
  *  - NO FORKS: a stats commit with its skipping read-back, a
  *    windowed CMS micro-batch replay, a two-phase checkpoint-restart
  *    replay and a foreachBatch versioned-sink replay start no process,
  *    and the session's hadoop conf resolves `file:` to LocalFs through
  *    both `FileSystem` and `FileContext`.
  */
class LocalFsSpec extends SparkSpec {

  private val root = new URI("file:///")

  private def conf(umask: String = "022"): Configuration = {
    val c = new Configuration(false)
    c.set("fs.permissions.umask-mode", umask)
    c
  }

  private def stockRaw(c: Configuration = conf()): RawLocalFileSystem = {
    val fs = new RawLocalFileSystem(); fs.initialize(root, c); fs
  }

  private def graftRaw(c: Configuration = conf()): LocalFs.Raw = {
    val fs = new LocalFs.Raw; fs.initialize(root, c); fs
  }

  /** A fresh, empty scratch dir (unqualified path, as the stock link
    * status resolves links only on those).
    */
  private def scratch(name: String): Path = {
    val d = new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_localfs_$name")
    stockRaw().delete(new Path(d.getPath), true)
    d.mkdirs()
    new Path(d.getPath)
  }

  /** Every field but the access time, which a directory listing moves
    * (relatime) between the two readers; it is compared on a file.
    */
  private def fields(s: FileStatus): Seq[Any] = Seq(s.getPath, s.getLen,
    s.isDirectory, s.getReplication, s.getBlockSize, s.getModificationTime,
    s.getPermission, s.getOwner, s.getGroup, s.isSymlink,
    if (s.isSymlink) s.getSymlink else None)

  private def sorted(ss: Array[FileStatus]): Seq[Seq[Any]] =
    ss.toSeq.sortBy(_.getPath.toString).map(fields)

  private def drain[T](it: RemoteIterator[T]): Seq[T] = {
    val b = Seq.newBuilder[T]; while (it.hasNext) b += it.next(); b.result()
  }

  test("statuses, listings and link statuses equal the stock RawLocalFileSystem's") {
    val d = scratch("parity")
    val ds = d.toString
    Files.write(Paths.get(ds, "file"), "0123456789".getBytes)
    Files.createDirectories(Paths.get(ds, "dir"))
    Files.write(Paths.get(ds, "dir", "inner"), "x".getBytes)
    Files.write(Paths.get(ds, "sp ace"), Array.emptyByteArray)
    Files.createDirectories(Paths.get(ds, "sticky"))
    Files.createSymbolicLink(Paths.get(ds, "link"), Paths.get("file"))
    Files.createSymbolicLink(Paths.get(ds, "dirlink"), Paths.get(ds, "dir"))
    Files.createSymbolicLink(Paths.get(ds, "dangling"), Paths.get("nowhere"))
    val (stock, graft) = (stockRaw(), graftRaw())
    // the sticky bit is the one mode LocalFs sets the stock way
    graft.setPermission(new Path(d, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
    graft.setPermission(new Path(d, "file"), new FsPermission(Integer.parseInt("640", 8).toShort))

    val sticky = graft.getFileStatus(new Path(d, "sticky")).getPermission
    assert(sticky.getStickyBit && sticky.toShort == Integer.parseInt("1777", 8))
    assert(graft.getFileStatus(new Path(d, "file")).getPermission.toShort ==
      Integer.parseInt("640", 8))

    val live = Seq("file", "dir", "dir/inner", "sp ace", "sticky", "link", "dirlink")
    for (name <- live) {
      val p = new Path(d, name)
      assert(fields(graft.getFileStatus(p)) == fields(stock.getFileStatus(p)), name)
    }
    for (name <- live :+ "dangling") {
      val p = new Path(d, name)
      assert(fields(graft.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), name)
    }
    for (name <- Seq("link", "dirlink", "dangling")) {
      val p = new Path(d, name)
      assert(graft.getFileLinkStatus(p).isSymlink, name)
      assert(graft.getLinkTarget(p) == stock.getLinkTarget(p), name)
    }
    assert(graft.getFileStatus(new Path(d, "dir")).getLen > 0) // a dir's own size
    assert(graft.getFileStatus(new Path(d, "file")).getAccessTime ==
      stock.getFileStatus(new Path(d, "file")).getAccessTime)
    for (p <- Seq(d, new Path(d, "dir"), new Path(d, "dirlink")))
      assert(sorted(graft.listStatus(p)) == sorted(stock.listStatus(p)), p)
    // the dangling link is not listed (its target is missing) in either
    assert(graft.listStatus(d).length == live.count(!_.contains('/')))
    // listStatus of a file is that file
    val file = new Path(d, "file")
    assert(sorted(graft.listStatus(file)) == sorted(stock.listStatus(file)))
    assert(graft.listStatus(file).map(_.getPath) ===
      Array(file.makeQualified(graft.getUri, graft.getWorkingDirectory)))
    val located = Seq(graft, stock).map { fs =>
      drain(fs.listFiles(d, true)).sortBy(_.getPath.toString)
        .map(s => fields(s) :+ s.getBlockLocations.map(_.toString).toSeq)
    }
    assert(located(0).nonEmpty && located(0) == located(1))

    for (fs <- Seq[FileSystem](graft, stock);
         op <- Seq[Path => Any](fs.getFileStatus(_), fs.getFileLinkStatus(_), fs.listStatus(_)))
      intercept[FileNotFoundException](op(new Path(d, "missing")))
  }

  test("create and mkdirs leave the stock modes under the umask") {
    for (umask <- Seq("022", "027", "077")) {
      val d = scratch(s"modes$umask")
      val (stock, graft) = (stockRaw(conf(umask)), graftRaw(conf(umask)))
      val modes = Seq("stock" -> stock, "graft" -> graft).map { case (tag, fs) =>
        fs.create(new Path(d, s"$tag/f")).close() // also mkdirs the parent
        fs.create(new Path(d, s"$tag/g"), new FsPermission(Integer.parseInt("751", 8).toShort),
          true, 4096, 1.toShort, 1L << 25, null).close()
        fs.mkdirs(new Path(d, s"$tag/a/b"))
        fs.mkdirs(new Path(d, s"$tag/m"), new FsPermission(Integer.parseInt("705", 8).toShort))
        Seq("", "/f", "/g", "/a", "/a/b", "/m").map(s =>
          stock.getFileStatus(new Path(d, tag + s)).getPermission)
      }
      assert(modes(0) == modes(1), umask)
    }
  }

  test("a rename answers as the stock file: class does and never replaces a file") {
    val stockClass = FileSystem.getFileSystemClass("file", new Configuration())
    val d = scratch("rename")
    val outcomes = Seq("stock" -> stockClass, "graft" -> classOf[LocalFs.Fs]).map { case (tag, cls) =>
      val fs = org.apache.hadoop.util.ReflectionUtils.newInstance(cls, conf())
      fs.initialize(root, conf())
      def put(name: String): Path = {
        val p = new Path(d, s"$tag/$name")
        val out = fs.create(p); out.write(name.getBytes); out.close(); p
      }
      val (a, b) = (put("a"), put("b"))
      fs.mkdirs(new Path(d, s"$tag/dir"))
      def rename(from: Path, to: String): String = scala.util.Try(
        fs.rename(from, new Path(d, s"$tag/$to"))).fold(_.getClass.getSimpleName, _.toString)
      val results = Seq(
        rename(a, "b"), // onto an existing file: refused
        rename(a, "c"), // onto a new name
        rename(b, "dir"), // into an existing dir
        rename(new Path(d, s"$tag/missing"), "e"))
      val files = drain(fs.listFiles(new Path(d, tag), true)).map { s =>
        val in = fs.open(s.getPath)
        try (s.getPath.toString.stripPrefix(s"file:$d/$tag/"), new String(in.readAllBytes()))
        finally in.close()
      }.sortBy(_._1)
      (results, files)
    }
    assert(outcomes(1)._1 == Seq("false", "true", "true", "FileNotFoundException"))
    assert(outcomes(1)._2 == Seq("c" -> "a", "dir/b" -> "b"))
    assert(outcomes(1) == outcomes(0), s"stock file: class $stockClass")
  }

  test("FileContext create and overwrite-rename lay out the stock files and modes") {
    val stockConf = new Configuration()
    stockConf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    val graftConf = new Configuration()
    graftConf.set("fs.AbstractFileSystem.file.impl", classOf[LocalFs.Afs].getName)
    val d = scratch("fc")
    val layouts = Seq("stock" -> stockConf, "graft" -> graftConf).map { case (tag, c) =>
      val fc = FileContext.getFileContext(root, c)
      val dir = new Path(d, tag)
      for (i <- 1 to 2) { // the checkpoint pattern: temp file, then rename over
        val out = fc.create(new Path(dir, ".tmp"),
          java.util.EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE),
          Options.CreateOpts.createParent())
        out.write(s"batch $i".getBytes); out.close()
        fc.rename(new Path(dir, ".tmp"), new Path(dir, "1"), Options.Rename.OVERWRITE)
      }
      stockRaw().listStatus(dir).toSeq.sortBy(_.getPath.getName)
        .map(s => (s.getPath.getName, s.getLen, s.getPermission))
    }
    assert(layouts(0).map(_._1) == Seq(".1.crc", "1"))
    assert(layouts(0) == layouts(1))
  }

  test("a stats commit with its skipping read and a CMS replay start no process") {
    val hc = spark.sessionState.newHadoopConf()
    val fs = FileSystem.get(root, hc)
    assert(fs.isInstanceOf[LocalFs.Fs])
    assert(fs.asInstanceOf[LocalFileSystem].getRaw.isInstanceOf[LocalFs.Raw])
    assert(FileContext.getFileContext(root, hc).getDefaultFileSystem.isInstanceOf[LocalFs.Afs])
    // Spark's process-tree metrics read the page size once per JVM, with
    // `getconf`, at the first executor heartbeat; start it here so the
    // count below holds per-query processes only
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    // Spark removes a released session's artifact dir with `rm -rf`
    // when the garbage collector finds the session, whenever that is;
    // those are not this query's files
    val artifacts = new java.io.File(System.getProperty("java.io.tmpdir"), "artifacts-").getPath
    // q_stream_restart drains twice into a checkpointed parquet sink,
    // q_stream_delta commits a version per foreachBatch micro-batch
    for (q <- Seq("q_version_skip", "q_stream_cms", "q_stream_restart",
        "q_stream_delta")) {
      val (rows, started) = ProcessStarts.during(SparkEntry.queries(q)(spark, sfDir).collect())
      val procs = started.filterNot(_.startsWith(s"rm -rf $artifacts"))
      assert(rows.nonEmpty, q)
      assert(procs.isEmpty, s"$q started ${procs.size}: ${procs.distinct.take(5)}")
    }
  }
}
