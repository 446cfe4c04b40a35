package graft

/** One session definition: [[Graft.builder]] is the only place a graft
  * session is configured, and the shared test session is that builder
  * plus a temp warehouse dir.
  */
class SessionSpec extends SparkSpec {

  /** The options a bare `Graft.builder` call sets (the builder's own
    * option map, read reflectively: Spark keeps it protected).
    */
  private def builderOptions(b: org.apache.spark.sql.SparkSession.Builder): Map[String, String] =
    b.getClass.getMethod("options").invoke(b)
      .asInstanceOf[scala.collection.mutable.Map[String, String]].toMap

  test("only Graft.scala configures a session builder") {
    val src = new java.io.File("src")
    assert(src.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    val call = ("SparkSession" + """\s*\.\s*builder\b""").r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val callers = files(src).filter { f =>
      call.findFirstIn(new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).isDefined
    }.map(_.getPath.replace('\\', '/')).sorted
    assert(callers == Seq("src/main/scala/graft/Graft.scala"))
  }

  test("the test session is Graft.builder(local[4], 8) plus a temp warehouse dir") {
    val want = builderOptions(Graft.builder("local[4]", Some(8)))
    assert(want("spark.master") == "local[4]")
    assert(want("spark.sql.shuffle.partitions") == "8")
    assert(want.contains("spark.sql.extensions"))
    val got = want.keys.map(k => k -> spark.conf.get(k)).toMap
    assert(got == want)
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    assert(wh.contains("graft-warehouse") && !wh.contains(new java.io.File(".").getCanonicalPath))
  }
}
