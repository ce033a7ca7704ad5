package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.{BenchAction, GraftSession}
import graft.core.{AppModuleVul, NvdMetadata, OpVersion, PkgVersion, Vulnerability}
import graft.functions.VersionOps
import graft.operators.{AppEnrichOps, AppPostFilters, Enrich, Namespacing, VulnMatch}
import graft.pipeline.VulDbPipeline
import graft.sinks.VulDbSink
import graft.sources._
import graft.sources.oval._

/** The vul-db build benchmark driver: one JVM, one workload, one input set.
  *
  * Modes:
  *  - `run`: set up, time a cold and then warm iterations, check every
  *    iteration's output, write the result JSON. With `--trace 1` the
  *    timed iterations are followed by traced ones that time each layer
  *    by wrapping calls to its public functions.
  *  - `gen-artifacts`, `gen-inventory`: the artifacts and the fleet
  *    inventory that the scan-fleet workload reads (input generation,
  *    never timed).
  *  - `selfcheck`: the generator's invariant: x1 inputs reproduce the
  *    golden file byte for byte; in x2 inputs every replica's rows
  *    un-map to the golden rows.
  */
object PipelineBench {

  val UpdateTime = "2026-01-01T00:00:00Z"
  val SpanProp = "perfbench.span"
  private val json = new ObjectMapper()

  // ---- feeds ---------------------------------------------------------------

  final case class Feed[T](family: String, ds: Dataset[T])
  final case class Feeds(nvd: Dataset[NvdMetadata], distro: Seq[Feed[Vulnerability]],
      apps: Seq[Feed[AppModuleVul]], calibration: Dataset[(String, Seq[OpVersion])]) {
    def inputs: VulDbPipeline.Inputs = VulDbPipeline.Inputs(
      distroFeeds = distro.map(_.ds), appFeeds = apps.map(_.ds), nvd = nvd,
      calibration = Some(calibration),
      rawFiles = Seq(VulDbSink.TarEntry("rhel-cpes.json", "{}".getBytes(UTF_8))))
  }

  /** Hook around each source call: identity when untimed, a span plus a
    * forced, cached result when traced. */
  trait Wrap { def apply[T](family: String, ds: => Dataset[T]): Dataset[T] }
  object NoWrap extends Wrap { def apply[T](family: String, ds: => Dataset[T]): Dataset[T] = ds }

  /** Input directories of each source family (for `sources.<f>.files`). */
  val familyDirs: Map[String, Seq[String]] = Map(
    "nvd" -> Seq("nvd"), "oval" -> Seq("oval"),
    "secdb" -> Seq("alpine", "debian", "photon", "rocky", "amazon"),
    "tracker" -> Seq("ubuntu-tracker"), "osv" -> Seq("go-osv", "cg-osv"),
    "app" -> Seq("apps", "ruby-gems"))

  /** The GoldenPipelineSpec feed set on generated inputs. Feed order
    * matches the golden spec: app-feed rank decides dedup wins. */
  def loadFeeds(in: String, w: Wrap)(implicit spark: SparkSession): Feeds = {
    val nvd = w("nvd", NvdSource.load(spark, s"$in/nvd"))
    val ubuntu = w("tracker", UbuntuSource.load(spark, s"$in/ubuntu-tracker"))
    val goVulns = w("osv", OsvSource.calibrateWithUbuntu(
      OsvSource.loadGo(spark, s"$in/go-osv"), Namespacing(ubuntu)))
    def feed(family: String)(ds: => Dataset[Vulnerability]) = Feed(family, w(family, ds))
    val distro = Seq(
      feed("secdb")(AlpineSource.load(spark, s"$in/alpine/v3.6-main.json")),
      feed("secdb")(DebianSource.load(spark, s"$in/debian/debian_main.json",
        Seq(s"$in/debian/debian_archive.json"))),
      feed("secdb")(PhotonSource.load(spark, s"$in/photon/photon4.json", "4.0")),
      feed("oval")(RhelSource.load(spark, s"$in/oval/rhel-8.xml", 8)),
      feed("oval")(OracleSource.load(spark, s"$in/oval/oracle.xml")),
      feed("oval")(SuseSource.load(spark, s"$in/oval/suse-15.xml",
        SuseSource.FeedInfo("sles15", "SUSE Linux Enterprise Server 15 ", "sles:"))),
      feed("oval")(MarinerSource.load(spark, s"$in/oval/mariner.xml")),
      Feed("tracker", ubuntu),
      feed("secdb")(RockySource.load(spark, s"$in/rocky/rocky_api.json")),
      feed("secdb")(AmazonSource.load(spark, s"$in/amazon/alas.rss", s"$in/amazon/pages", 1)),
      feed("osv")(OsvSource.loadChainguard(spark, s"$in/cg-osv", "Chainguard", "chainguard")),
      feed("osv")(OsvSource.loadChainguard(spark, s"$in/cg-osv", "Wolfi", "wolfi")))
    val apps = Seq(
      Feed("osv", goVulns),
      Feed("app", w("app", GhsaSource.load(spark, s"$in/apps/ghsa_maven.ndjson", "maven"))),
      Feed("app", w("app", HtmlSources.loadNginx(spark, s"$in/apps/nginx_advisories.html"))),
      Feed("app", w("app", HtmlSources.loadOpenssl(spark, s"$in/apps/openssl_advisories.html"))),
      Feed("app", w("app", RubySource.load(spark, s"$in/ruby-gems"))),
      Feed("app", w("app", AppSources.k8s(spark, s"$in/apps/k8s.json"))),
      Feed("app", w("app", AppSources.openshift(spark))),
      Feed("app", w("app", AppSources.manual(spark, s"$in/apps/manual.db"))))
    val calibration = w("app", AppSources.calibration(spark, s"$in/apps/apps_calibration"))
    Feeds(nvd, distro, apps, calibration)
  }

  /** One untraced build: the GoldenPipelineSpec DAG from input files to
    * both artifacts in `out`. */
  def buildOnce(in: String, out: String)(implicit spark: SparkSession): Unit = {
    val inputs = loadFeeds(in, NoWrap).inputs
    val built = VulDbPipeline.build(inputs)
    val withBackfill = AppEnrichOps.backfillAffectedVersions(built.apps, inputs.nvd)
    VulDbSink.write(built.vulns, withBackfill, inputs.rawFiles, out, "1.000", UpdateTime)
  }

  // ---- artifacts and the golden file -----------------------------------------

  val Artifacts = Seq("cvedb.compact", "cvedb.regular")

  /** Both artifacts decrypted; fails if any member's SHA-256 differs from
    * the header manifest or a manifest entry has no member. */
  def readVerified(dir: String): Seq[(String, String, Seq[VulDbSink.TarEntry])] =
    Artifacts.map { a =>
      val (header, entries) = VulDbSink.readDbFile(s"$dir/$a")
      val shas = json.readTree(header).get("Shas")
      val names = shas.fieldNames().asScala.toSet
      require(names == entries.map(_.name).toSet, s"$a: header lists ${names.size} members, tar has ${entries.size}")
      entries.foreach { e =>
        require(VulDbSink.sha256Hex(e.bytes) == shas.get(e.name).asText(), s"$a/${e.name}: SHA-256 mismatch")
      }
      (a, header, entries)
    }

  def lines(e: VulDbSink.TarEntry): Vector[String] =
    new String(e.bytes, UTF_8).linesIterator.filter(_.nonEmpty).toVector

  /** The golden file: header lines and member rows by "artifact/member". */
  final case class Golden(text: String, members: Map[String, Vector[String]])
  def readGolden(path: String): Golden = {
    val text = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
    val members = mutable.LinkedHashMap.empty[String, Vector[String]]
    var cur: Option[String] = None
    text.linesIterator.foreach { l =>
      if (l.startsWith("== ")) {
        val name = l.drop(3).takeWhile(_ != ' ')
        cur = if (l.endsWith(" header")) None else Some(name)
        cur.foreach(members(_) = Vector.empty)
      } else cur.foreach(c => if (l.nonEmpty) members(c) = members(c) :+ l)
    }
    Golden(text, members.toMap)
  }

  /** The canonical document GoldenPipelineSpec compares. */
  def goldenDoc(dir: String): String = {
    val doc = new StringBuilder
    for (artifact <- Seq("cvedb.compact", "cvedb.regular")) {
      val (header, entries) = VulDbSink.readDbFile(s"$dir/$artifact")
      doc.append(s"== $artifact header\n").append(header).append('\n')
      entries.foreach { e =>
        val text = new String(e.bytes, UTF_8)
        val n = text.linesIterator.count(_.nonEmpty)
        doc.append(s"== $artifact/${e.name} ($n rows)\n").append(text)
        if (text.nonEmpty && !text.endsWith("\n")) doc.append('\n')
      }
    }
    doc.toString
  }

  // ---- replica ids (the inverse of gen.py's remap) -----------------------------

  private val Marker =
    """((?:CVE|ELSA|ALAS|GO)-\d{4}-|(?:RHSA|RLSA)-\d{4}:|(?:CGA|CWE)-)9(\d{6})(\d+)|GHSA-q(\d{6})q-|(?<![A-Za-z0-9])p(\d{6})q-""".r

  /** The replica a row belongs to: 0 when it carries no remapped id. */
  def replicaOf(row: String): Int = Marker.findFirstMatchIn(row).map { m =>
    Option(m.group(2)).orElse(Option(m.group(4))).getOrElse(m.group(5)).toInt
  }.getOrElse(0)

  def unmap(row: String): String = Marker.replaceAllIn(row, m =>
    java.util.regex.Matcher.quoteReplacement(
      if (m.group(1) != null) m.group(1) + m.group(3)
      else if (m.group(4) != null) "GHSA-"
      else ""))

  private val FanoutCve = """CVE-\d{4}-8\d{6}""".r

  /** A row with the generator's additions dropped, the padded description
    * blanked and every array sorted: equal for every replica of a row. */
  def canonical(row: String): String = {
    def norm(n: JsonNode): JsonNode = n match {
      case o: ObjectNode =>
        o.fieldNames().asScala.toList.foreach(f => o.set[JsonNode](f, norm(o.get(f))))
        if (o.has("D")) o.put("D", "")
        o
      case a: ArrayNode =>
        val kept = a.elements().asScala.map(norm).filterNot { e =>
          (e.isObject && e.has("N") && e.get("N").asText().startsWith("zzfan")) ||
            (e.isTextual && FanoutCve.pattern.matcher(e.asText()).matches())
        }.toVector.sortBy(_.toString)
        val out = json.createArrayNode()
        kept.foreach(out.add)
        out
      case other => other
    }
    norm(json.readTree(unmap(row))).toString
  }

  // ---- expectations ----------------------------------------------------------

  /** Replicas per feed, from the generator's manifest. */
  def readReplicas(in: String): Map[String, Int] =
    json.readTree(new File(s"$in/manifest.json")).get("replicas").fields().asScala
      .map(e => e.getKey -> e.getValue.asInt).toMap

  /** The feed whose rows land in each bucket. */
  val bucketFeed: Map[String, String] = Map(
    "ubuntu" -> "ubuntu", "debian" -> "debian", "centos" -> "rhel", "alpine" -> "alpine",
    "amazon" -> "amazon", "oracle" -> "oracle", "mariner" -> "mariner", "suse" -> "suse",
    "photon" -> "photon", "rocky" -> "rocky", "wolfi" -> "cgosv", "chainguard" -> "cgosv")

  final class Expect(golden: Golden, replicasOf: Map[String, Int], staticIds: Set[String]) {
    /** Every "artifact/member" a build must ship. */
    def members: Set[String] = golden.members.keySet
    /** Replicas of the feed behind `member` (1 for the raw files). */
    def replicas(member: String): Int =
      bucketFeed.get(member.takeWhile(_ != '_')).orElse(if (member == "apps.tb") Some("apps") else None)
        .map(replicasOf).getOrElse(1)
    def isStatic(row: String): Boolean = staticIds.exists(id => row.startsWith(s"""{"VN":"$id""""))
    /** Golden rows of replica 0 and of every replica >= 1. */
    def replica0(key: String): Vector[String] = golden.members.getOrElse(key, Vector.empty)
    def replicaN(key: String): Vector[String] =
      if (replicas(key.split('/')(1)) <= 1) Vector.empty else replica0(key).filterNot(isStatic)
    def rows(key: String): Long =
      replica0(key).size + (replicas(key.split('/')(1)) - 1).toLong * replicaN(key).size
  }

  def staticAppIds(implicit spark: SparkSession): Set[String] =
    AppSources.openshift(spark).collect().map(_.vulName).toSet

  /** Per-run output check of a build: SHA manifest, the golden file's
    * member set, per-member row counts, replica-0 rows equal to the
    * golden rows. Also returns the rows
    * shipped (regular index members + apps) and the artifacts' bytes. */
  final case class BuildCheck(errors: Seq[String], outputRows: Long, artifactBytes: Long)
  def checkBuild(out: String, ex: Expect): BuildCheck = {
    val errors = mutable.ArrayBuffer.empty[String]
    val memberRows = mutable.LinkedHashMap.empty[String, Long]
    try {
      readVerified(out).foreach { case (a, _, entries) =>
        entries.foreach { e =>
          val key = s"$a/${e.name}"
          val ls = lines(e)
          memberRows(key) = ls.size.toLong
          if (ls.size != ex.rows(key)) errors += s"$key: ${ls.size} rows, expected ${ex.rows(key)}"
          if (e.name != "rhel-cpes.json" && ls.filter(replicaOf(_) == 0) != ex.replica0(key))
            errors += s"$key: replica-0 rows differ from the golden rows"
        }
      }
      val got = memberRows.keySet.toSet
      if (got != ex.members) errors += s"members missing: ${(ex.members -- got).toSeq.sorted.mkString(", ")}; " +
        s"unexpected: ${(got -- ex.members).toSeq.sorted.mkString(", ")}"
    } catch { case t: Throwable => errors += s"read-back: $t" }
    val rows = memberRows.collect {
      case (k, n) if k.startsWith("cvedb.regular/") && (k.endsWith("_index.tb") || k.endsWith("apps.tb")) => n
    }.sum
    val bytes = Artifacts.map(a => new File(s"$out/$a").length()).sum
    BuildCheck(errors.toSeq, rows, bytes)
  }

  // ---- scan-fleet --------------------------------------------------------------

  private val indexSchema = StructType(Seq(
    StructField("N", StringType), StructField("NS", StringType),
    StructField("Fixin", ArrayType(StructType(Seq(StructField("N", StringType),
      StructField("V", StringType), StructField("MV", StringType))))),
    StructField("CPE", ArrayType(StringType))))

  /** Read-back `*_index.tb` rows as the Vulnerability rows `fixRanges` takes. */
  def indexVulns(rows: Seq[String])(implicit spark: SparkSession): Dataset[Vulnerability] = {
    import spark.implicits._
    spark.read.schema(indexSchema).json(spark.createDataset(rows))
      .select(col("N").as("name"), col("NS").as("namespace"), lit("").as("description"),
        lit("").as("link"), lit("").as("severity"), lit(0.0).as("cvssV2Score"),
        lit("").as("cvssV2Vectors"), lit(0.0).as("cvssV3Score"), lit("").as("cvssV3Vectors"),
        lit(null).cast(TimestampType).as("issuedDate"), lit(null).cast(TimestampType).as("lastModDate"),
        expr("CAST(array() AS array<struct<name:string,cvssV2Score:double,cvssV2Vectors:string," +
          "cvssV3Score:double,cvssV3Vectors:string>>)").as("cves"),
        expr("transform(Fixin, f -> struct(f.N AS featureName, '' AS featureNamespace, " +
          "f.V AS version, f.MV AS minVer))").as("fixedIn"),
        coalesce(col("CPE"), expr("CAST(array() AS array<string>)")).as("cpes"),
        lit("").as("feedRating"))
      .as[Vulnerability]
  }

  def indexRows(arts: Seq[(String, String, Seq[VulDbSink.TarEntry])]): Seq[String] =
    arts.filter(_._1 == "cvedb.regular").flatMap(_._3)
      .filter(_.name.endsWith("_index.tb")).flatMap(lines)

  val InventorySchema = "host LONG, namespace STRING, feature STRING, version STRING"

  /** Input generation for scan-fleet, without Spark: a fleet inventory
    * (tab-separated, four files) whose versions straddle the fix versions
    * of the artifacts in `in/artifacts`, and the affected count a direct
    * evaluation of the match predicate gives for it. */
  def genInventory(in: String, seed: Long, hosts: Int, perHost: Int): Unit = {
    final case class R(ns: String, feature: String, fixed: String, min: String)
    val ranges = indexRows(readVerified(s"$in/artifacts")).flatMap { l =>
      val n = json.readTree(l)
      n.get("Fixin").elements().asScala.map { f =>
        def s(k: String) = Option(f.get(k)).filterNot(_.isNull).map(_.asText).orNull
        R(n.get("NS").asText(), s("N"), s("V"), s("MV"))
      }
    }
    val byKey = ranges.groupBy(r => (r.ns, r.feature))
    // installed versions straddle each fix: the fix itself (not affected
    // by that range) and one below it (the range floor when there is one)
    def real(v: String) = v != null && v.nonEmpty && !v.startsWith("#")
    val LeadingNumber = """^(\d+:)?(\d+)(.*)$""".r
    def below(r: R): Option[String] =
      if (real(r.min)) Some(r.min)
      else Option(r.fixed).collect { case LeadingNumber(epoch, n, rest) if BigInt(n) > 0 =>
        Option(epoch).getOrElse("") + (BigInt(n) - 1) + rest
      }
    val candidates = byKey.toSeq.sortBy(_._1).map { case (k, rs) =>
      k -> rs.flatMap(r => Option(r.fixed).filter(real).toSeq ++ below(r)).distinct.sorted
    }.filter(_._2.nonEmpty)
    def affected(key: (String, String), v: String): Int = byKey(key).count { r =>
      r.fixed != null && VersionOps.cmp(v, r.fixed) < 0 &&
        VersionOps.cmp(v, Option(r.min).getOrElse(PkgVersion.MinSentinel)) >= 0
    }
    val rnd = new scala.util.Random(seed)
    val take = math.min(perHost, candidates.size)
    var expected = 0L
    new File(s"$in/inventory").mkdirs()
    val parts = (0 until 4).map(p => new java.io.PrintWriter(s"$in/inventory/part-$p.tsv", "UTF-8"))
    (0 until hosts).foreach { h =>
      rnd.shuffle(candidates).take(take).foreach { case (key, vs) =>
        val v = vs(rnd.nextInt(vs.size))
        expected += affected(key, v)
        parts(h % 4).println(s"$h\t${key._1}\t${key._2}\t$v")
      }
    }
    parts.foreach(_.close())
    Files.write(Paths.get(s"$in/scan.json"),
      s"""{"inventory_rows":${hosts.toLong * take},"expected_affected":$expected,"ranges":${ranges.size},"hosts":$hosts}"""
        .getBytes(UTF_8))
  }

  /** One scan-fleet iteration: read back and verify both artifacts,
    * project the index rows into fix ranges, match the inventory.
    * Returns (affected rows, inventory rows). */
  def scanOnce(in: String, tr: Tracer = Tracer.off)(implicit spark: SparkSession): (Long, Long) = {
    val arts = tr("sink.readback")(readVerified(s"$in/artifacts"))
    val ranges = tr("vulnmatch.fixranges")(tr.force(VulnMatch.fixRanges(indexVulns(indexRows(arts))))._1)
    val inv = spark.read.schema(InventorySchema).option("sep", "\t").csv(s"$in/inventory")
    tr("vulnmatch.scan")((VulnMatch.affected(inv, ranges).count(), inv.count()))
  }

  // ---- tracing -----------------------------------------------------------------

  final class Counters { var jobs = 0L; var tasks = 0L; var runMs = 0L; var gcMs = 0L; var shuffleBytes = 0L }

  /** Attributes jobs and task metrics to the span named by the job's
    * local property; VulDbSink.write's pool threads inherit it. */
  final class SpanListener extends SparkListener {
    val bySpan = new java.util.concurrent.ConcurrentHashMap[String, Counters]()
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private def c(s: String) = bySpan.computeIfAbsent(s, _ => new Counters)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).foreach { s =>
        c(s).jobs += 1
        e.stageIds.foreach(id => stageSpan.put(id, s))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val k = c(s)
        k.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          k.runMs += m.executorRunTime; k.gcMs += m.jvmGCTime
          k.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
  }

  final case class Span(name: String, parent: String, t0: Long, t1: Long) {
    def s: Double = (t1 - t0) / 1e9
  }

  /** Spans around layer calls, kept in memory. A span's body is forced
    * (persist + count) by `force`, so the next layer reads a cache. */
  class Tracer(spark: SparkSession) {
    val spans = mutable.ArrayBuffer.empty[Span]
    /** Spark counters by span name, filled when the iteration ends. */
    var counters = Map.empty[String, Counters]
    private val cached = mutable.ArrayBuffer.empty[Dataset[_]]
    private var stack = List.empty[String]
    def apply[T](name: String)(body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProp)
      val parent = stack.headOption.getOrElse("")
      stack = name :: stack
      sc.setLocalProperty(SpanProp, name)
      val t0 = System.nanoTime()
      try body finally {
        spans += Span(name, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prev)
      }
    }
    def force[T](ds: Dataset[T]): (Dataset[T], Long) = {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      cached += p
      (p, p.count())
    }
    def release(): Unit = { cached.foreach(_.unpersist(blocking = true)); cached.clear() }
    def total(name: String): Double = spans.filter(_.name == name).map(_.s).sum
    def self(sp: Span): Double =
      sp.s - spans.filter(c => c.parent == sp.name && c.t0 >= sp.t0 && c.t1 <= sp.t1).map(_.s).sum
  }
  object Tracer {
    val off: Tracer = new Tracer(null) {
      override def apply[T](name: String)(body: => T): T = body
      override def force[T](ds: Dataset[T]): (Dataset[T], Long) = (ds, -1L)
    }
  }

  val Families = Seq("nvd", "oval", "secdb", "tracker", "osv", "app")
  val CounterSpans = Seq("sources", "namespacing", "enrich", "upsert", "sink.write", "vulnmatch.scan")
  /** Spans on the blocking path of a traced build; the upsert counts as
    * its residual (upsert minus upsert_upstream). */
  val BlockingSpans = Seq("sources", "namespacing", "appfilters", "enrich", "backfill", "upsert", "sink.write")

  /** Every per-layer metric, zero where the workload bypasses the layer. */
  def layerMetricNames: Seq[String] =
    Families.flatMap(f => Seq("s", "rows", "files", "tasks").map(k => s"sources.$f.$k")) ++
      Seq("namespacing.s", "namespacing.rows_in", "namespacing.rows_out",
        "appfilters.s", "appfilters.rows_in", "appfilters.rows_out",
        "enrich.distro.s", "enrich.app.s", "enrich.nvd_hit_ratio", "enrich.broadcast_mb", "enrich.rows_gated",
        "backfill.s", "backfill.rows_filled", "upsert.s", "upsert.rows_in", "upsert.rows_out",
        "sink.project.s", "sink.write.s", "sink.assemble.s", "sink.assemble_mb_per_s", "sink.plain_mb",
        "sink.bucket_max_share", "sink.readback.s", "sink.readback_mb_per_s",
        "vulnmatch.fixranges.s", "vulnmatch.scan.s", "vulnmatch.rows_in", "vulnmatch.affected_ratio") ++
      CounterSpans.flatMap(s => Seq("jobs", "tasks", "busy_frac", "gc_s", "shuffle_mb").map(k => s"$s.$k")) :+
      "trace_overhead_s"

  def layerUnit(name: String): String = name match {
    case n if n.endsWith(".s") || n.endsWith("gc_s") || n == "trace_overhead_s" => "s"
    case n if n.endsWith("_mb") => "MB"
    case n if n.endsWith("mb_per_s") => "MB/s"
    case n if n.endsWith("ratio") || n.endsWith("share") || n.endsWith("busy_frac") => "ratio"
    case n if n.endsWith(".files") => "files"
    case n if n.endsWith(".jobs") => "jobs"
    case n if n.endsWith(".tasks") => "tasks"
    case _ => "rows"
  }

  /** One traced build iteration; returns its per-layer metrics. */
  def tracedBuild(in: String, out: String, tr: Tracer, listener: SpanListener,
      cores: Int)(implicit spark: SparkSession): Map[String, Double] = {
    val r = mutable.LinkedHashMap.empty[String, Double]
    val famRows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val wrap = new Wrap {
      def apply[T](family: String, ds: => Dataset[T]): Dataset[T] = tr(s"sources.$family") {
        val (p, n) = tr.force(ds); famRows(family) += n; p
      }
    }
    val feeds = tr("sources")(loadFeeds(in, wrap))
    val distroIn = feeds.distro.map(_.ds.count()).sum
    val appsIn = feeds.apps.map(_.ds.count()).sum
    val (ns, nsRows) = tr("namespacing")(tr.force(Namespacing(feeds.distro.map(_.ds).reduce(_ unionByName _))))
    val (apps, appRows) = tr("appfilters")(tr.force(AppPostFilters.gate(AppPostFilters.applyCalibration(
      AppPostFilters.dedup(feeds.apps.map(_.ds)), feeds.calibration))))
    val ((ed, edRows), (ea, eaRows)) = tr("enrich") {
      (tr("enrich.distro")(tr.force(Enrich.distro(ns, feeds.nvd))),
        tr("enrich.app")(tr.force(Enrich.app(apps, feeds.nvd))))
    }
    val (bf, _) = tr("backfill")(tr.force(AppEnrichOps.backfillAffectedVersions(ea, feeds.nvd)))
    // the upsert has no public entry: time build.vulns from the cached
    // feeds and, the same way, the namespacing + distro enrichment it
    // starts from; upsert.s is the difference. Each plan runs once
    // untimed first, so neither side pays code generation.
    val upstream = Enrich.distro(Namespacing(feeds.distro.map(_.ds).reduce(_ unionByName _)), feeds.nvd).toDF()
    val built = VulDbPipeline.build(feeds.inputs)
    BenchAction.run(upstream); BenchAction.run(built.vulns.toDF())
    tr("upsert_upstream")(BenchAction.run(upstream))
    tr("upsert")(BenchAction.run(built.vulns.toDF()))
    val (vulns, vulnRows) = tr.force(built.vulns)
    tr("sink.project") {
      BenchAction.run(VulDbSink.project(vulns)); BenchAction.run(VulDbSink.projectApps(bf))
    }
    tr("sink.write")(VulDbSink.write(vulns, bf, feeds.inputs.rawFiles, out, "1.000", UpdateTime))
    val arts = tr("sink.readback")(readVerified(out))
    val assembled = s"$out/assembled"
    new File(assembled).mkdirs()
    tr("sink.assemble")(arts.foreach { case (a, header, entries) =>
      VulDbSink.writeDbFileStreaming(s"$assembled/$a", header,
        entries.map(e => VulDbSink.BytesArtifactEntry(e.name, e.bytes)))
    })

    // counts taken outside every span
    import spark.implicits._
    val refs = ns.select(col("name").as("r")).union(ns.select(explode(col("cves.name")).as("r")))
      .union(apps.select(col("vulName").as("r"))).union(apps.select(explode(col("cves")).as("r")))
      .filter(col("r").startsWith("CVE-"))
    val refN = refs.count()
    val hits = refs.join(feeds.nvd.select(col("cve").as("r")).distinct(), Seq("r"), "left_semi").count()
    def versions(ds: Dataset[AppModuleVul]) =
      ds.select("vulName", "appName", "moduleName", "affectedVer", "fixedVer")
    val plain = arts.flatMap(_._3).map(_.bytes.length.toLong).sum / 1e6
    val bucketRows = arts.filter(_._1 == "cvedb.regular").flatMap(_._3)
      .filter(_.name.endsWith("_index.tb")).map(e => lines(e).size.toLong)

    Families.foreach { f =>
      r(s"sources.$f.s") = tr.total(s"sources.$f")
      r(s"sources.$f.rows") = famRows(f).toDouble
      r(s"sources.$f.files") = familyDirs(f).map(d => countFiles(new File(s"$in/$d"))).sum.toDouble
    }
    r("namespacing.s") = tr.total("namespacing")
    r("namespacing.rows_in") = distroIn.toDouble
    r("namespacing.rows_out") = nsRows.toDouble
    r("appfilters.s") = tr.total("appfilters")
    r("appfilters.rows_in") = appsIn.toDouble
    r("appfilters.rows_out") = appRows.toDouble
    r("enrich.distro.s") = tr.total("enrich.distro")
    r("enrich.app.s") = tr.total("enrich.app")
    r("enrich.nvd_hit_ratio") = if (refN == 0) 0.0 else hits.toDouble / refN
    r("enrich.broadcast_mb") = feeds.nvd.queryExecution.optimizedPlan.stats.sizeInBytes.toDouble / 1e6
    r("enrich.rows_gated") = ((nsRows - edRows) + (appRows - eaRows)).toDouble
    r("backfill.s") = tr.total("backfill")
    r("backfill.rows_filled") = versions(bf).except(versions(ea)).count().toDouble
    r("upsert.s") = tr.total("upsert") - tr.total("upsert_upstream")
    r("upsert.rows_in") = edRows.toDouble
    r("upsert.rows_out") = vulnRows.toDouble
    r("sink.project.s") = tr.total("sink.project")
    r("sink.write.s") = tr.total("sink.write")
    r("sink.assemble.s") = tr.total("sink.assemble")
    r("sink.assemble_mb_per_s") = plain / tr.total("sink.assemble")
    r("sink.plain_mb") = plain
    r("sink.bucket_max_share") = if (bucketRows.sum == 0) 0.0 else bucketRows.max.toDouble / bucketRows.sum
    r("sink.readback.s") = tr.total("sink.readback")
    r("sink.readback_mb_per_s") = plain / tr.total("sink.readback")
    tr.release()
    r.toMap ++ counterMetrics(tr, listener, cores)
  }

  def tracedScan(in: String, tr: Tracer, listener: SpanListener, cores: Int)(
      implicit spark: SparkSession): Map[String, Double] = {
    val (affected, invRows) = scanOnce(in, tr)
    val plain = readVerified(s"$in/artifacts").flatMap(_._3).map(_.bytes.length.toLong).sum / 1e6
    tr.release()
    Map(
      "sink.readback.s" -> tr.total("sink.readback"),
      "sink.readback_mb_per_s" -> plain / tr.total("sink.readback"),
      "sink.plain_mb" -> plain,
      "vulnmatch.fixranges.s" -> tr.total("vulnmatch.fixranges"),
      "vulnmatch.scan.s" -> tr.total("vulnmatch.scan"),
      "vulnmatch.rows_in" -> invRows.toDouble,
      "vulnmatch.affected_ratio" -> affected.toDouble / invRows) ++ counterMetrics(tr, listener, cores)
  }

  /** Spark counters rolled up to each top-level span, plus per-family task counts. */
  def counterMetrics(tr: Tracer, listener: SpanListener, cores: Int)(
      implicit spark: SparkSession): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val all = listener.bySpan.asScala.toMap
    tr.counters = all
    def under(s: String) = all.collect { case (k, c) if k == s || k.startsWith(s + ".") => c }
    val r = mutable.LinkedHashMap.empty[String, Double]
    CounterSpans.foreach { s =>
      val cs = under(s)
      val wall = tr.total(s)
      r(s"$s.jobs") = cs.map(_.jobs).sum.toDouble
      r(s"$s.tasks") = cs.map(_.tasks).sum.toDouble
      r(s"$s.busy_frac") = if (wall == 0) 0.0 else cs.map(_.runMs).sum / 1e3 / (wall * cores)
      r(s"$s.gc_s") = cs.map(_.gcMs).sum / 1e3
      r(s"$s.shuffle_mb") = cs.map(_.shuffleBytes).sum / 1e6
    }
    Families.foreach(f => r(s"sources.$f.tasks") = under(s"sources.$f").map(_.tasks).sum.toDouble)
    listener.bySpan.clear()
    r.toMap
  }

  /** The last traced iteration: every span with its self time, and the
    * Spark counters of the jobs each span name ran. */
  def writeSpans(path: String, tr: Tracer): Unit = {
    val base = tr.spans.map(_.t0).minOption.getOrElse(0L)
    val spans = tr.spans.sortBy(_.t0).map { s =>
      f"""    {"name":"${s.name}","parent":"${s.parent}","start_s":${(s.t0 - base) / 1e9}%.6f,""" +
        f""""end_s":${(s.t1 - base) / 1e9}%.6f,"self_s":${tr.self(s)}%.6f}"""
    }
    val counters = tr.counters.toSeq.sortBy(_._1).map { case (n, c) =>
      f"""    "$n":{"jobs":${c.jobs},"tasks":${c.tasks},"run_s":${c.runMs / 1e3}%.3f,""" +
        f""""gc_s":${c.gcMs / 1e3}%.3f,"shuffle_mb":${c.shuffleBytes / 1e6}%.3f}"""
    }
    Files.write(Paths.get(path), (spans.mkString("{\n  \"spans\": [\n", ",\n", "\n  ],\n") +
      counters.mkString("  \"counters\": {\n", ",\n", "\n  }\n}\n")).getBytes(UTF_8))
  }

  // ---- measurement helpers -------------------------------------------------------

  def countFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(countFiles).sum).getOrElse(0L)
    else if (f.isFile) 1L else 0L

  def listInputs(in: String): (Long, Long) = {
    var files = 0L; var bytes = 0L
    Files.walk(Paths.get(in)).iterator().asScala.filter(Files.isRegularFile(_)).foreach { p =>
      files += 1; bytes += Files.size(p)
    }
    (files, bytes)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Peak post-GC heap (sum over heap pools after each collection),
    * recorded only while armed. */
  object HeapPeak {
    @volatile var armed = false
    @volatile var peak = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (armed && n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools.contains(pool) => u.getUsed }.sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }
  }

  // ---- main ------------------------------------------------------------------------

  def session(cores: Int): SparkSession = {
    val s = GraftSession.build("perfbench")
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opts("mode")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "0").toInt
    val nproc = Runtime.getRuntime.availableProcessors()
    // fail fast, before any timing: a bad action or core count must not
    // turn into a silently mis-measured run
    require(cores >= 1 && cores <= nproc, s"SPARK_GRAFT_CPUS must be 1..$nproc, got $cores")
    val action = BenchAction.name
    mode match {
      case "gen-artifacts" =>
        implicit val spark: SparkSession = session(cores)
        try buildOnce(opts("feeds"), opts("out"))
        finally spark.stop()
      case "gen-inventory" =>
        genInventory(opts("inputs"), opts("seed").toLong, opts("hosts").toInt, opts("per-host").toInt)
      case "selfcheck" => sys.exit(selfcheck(opts, cores))
      case "run" => run(opts, cores, jvmStartMs, action)
    }
  }

  def selfcheck(opts: Map[String, String], cores: Int): Int = {
    implicit val spark: SparkSession = session(cores)
    val golden = readGolden(opts("golden"))
    val errors = mutable.ArrayBuffer.empty[String]
    try {
      val x1 = opts("inputs"); val x2 = opts("inputs2"); val work = opts("work")
      buildOnce(x1, s"$work/x1")
      if (goldenDoc(s"$work/x1") != golden.text) {
        Files.write(Paths.get(s"$work/x1_actual.txt"), goldenDoc(s"$work/x1").getBytes(UTF_8))
        errors += s"x1 build differs from the golden file (actual in $work/x1_actual.txt)"
      }
      buildOnce(x2, s"$work/x2")
      val ex = new Expect(golden, readReplicas(x2), staticAppIds)
      errors ++= checkBuild(s"$work/x2", ex).errors
      readVerified(s"$work/x2").foreach { case (a, _, entries) =>
        entries.filter(_.name != "rhel-cpes.json").foreach { e =>
          val key = s"$a/${e.name}"
          val byReplica = lines(e).groupBy(replicaOf)
          (1 until ex.replicas(e.name)).foreach { i =>
            val got = byReplica.getOrElse(i, Vector.empty).map(canonical).sorted
            val want = ex.replicaN(key).map(canonical).sorted
            if (got != want) errors += s"$key replica $i: un-mapped rows differ from the golden rows\n" +
              s"  got:  ${got.diff(want).take(2).mkString("\n        ")}\n  want: ${want.diff(got).take(2).mkString("\n        ")}"
          }
        }
      }
    } finally spark.stop()
    errors.foreach(e => System.err.println(s"[selfcheck] FAIL $e"))
    println(if (errors.isEmpty) "[selfcheck] ok: x1 reproduces the golden file byte for byte; x2 replicas un-map to the golden rows"
      else s"[selfcheck] ${errors.size} failure(s)")
    if (errors.isEmpty) 0 else 1
  }

  def run(opts: Map[String, String], cores: Int, jvmStartMs: Long, action: String): Unit = {
    val workload = opts("workload"); val in = opts("inputs"); val work = opts("work")
    val seconds = opts("seconds").toDouble; val trace = opts("trace") == "1"
    val scan = workload == "scan-fleet"
    new File(work).mkdirs()

    // set-up: JVM start to session built and inputs listed
    implicit val spark: SparkSession = session(cores)
    val listed = listInputs(in)
    val setup = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val listener = new SpanListener
    spark.sparkContext.addSparkListener(listener)
    HeapPeak.install()
    val ex = if (scan) null else new Expect(readGolden(opts("golden")), readReplicas(in), staticAppIds)
    val expectedAffected = if (scan)
      json.readTree(new File(s"$in/scan.json")).get("expected_affected").asLong else 0L

    val osBean = ManagementFactory.getOperatingSystemMXBean
    val loads = mutable.ArrayBuffer.empty[Double]
    def calib(): Double = median((0 until 3).map(_ => time(
      spark.range(0L, 50000000L, 1L, cores).selectExpr("sum(id * (id % 7))").collect())._2))

    var attempted = 0; var failed = 0
    var rows = 0L; var artifactBytes = 0L; var checkS = 0.0
    val failures = mutable.ArrayBuffer.empty[String]
    /** One timed iteration plus its (untimed) output check; returns seconds. */
    def iteration(n: Int): Double = {
      val out = s"$work/out-$n"
      val l = osBean.getSystemLoadAverage
      if (l >= 0) loads += l
      attempted += 1
      HeapPeak.armed = true
      val (res, secs) = try time {
        if (scan) Right(scanOnce(in)) else { buildOnce(in, out); Left(()) }
      } catch { case t: Throwable => failed += 1; failures += s"iteration $n: $t"; return Double.NaN }
      finally HeapPeak.armed = false
      res match {
        case Right((affected, invRows)) =>
          rows = invRows
          artifactBytes = Artifacts.map(a => new File(s"$in/artifacts/$a").length()).sum
          if (affected != expectedAffected) {
            failed += 1; failures += s"iteration $n: $affected affected rows, expected $expectedAffected"
          }
        case Left(_) =>
          val (c, cs) = time(checkBuild(out, ex))
          checkS += cs
          rows = c.outputRows; artifactBytes = c.artifactBytes
          if (c.errors.nonEmpty) { failed += 1; failures ++= c.errors.map(e => s"iteration $n: $e") }
          deleteTree(new File(out))
      }
      secs
    }

    val calibFirst = calib()
    val cold = iteration(0)
    // the host's speed drifts within seconds and JIT keeps settling over
    // the first warm iterations, so wall_s is a median over all of them:
    // at least two, so that one build-full iteration is never all of it
    val warm = mutable.ArrayBuffer.empty[Double]
    val budget = if (trace) 0.0 else seconds
    while (warm.size < 2 || (warm.sum < budget && warm.size < 50)) warm += iteration(warm.size + 1)
    val wall = median(warm.toSeq)

    val metrics: Seq[(String, Double, String)] = if (!trace) Seq(
      ("setup_s", setup, "s"),
      ("wall_s", wall, "s"),
      ("records_per_s", rows / wall, "rows/s"),
      ("artifact_bytes", artifactBytes.toDouble, "bytes"))
    else {
      val per = mutable.ArrayBuffer.empty[Map[String, Double]]
      var lastTr: Tracer = null
      val t0 = System.nanoTime()
      while (per.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
        val tr = new Tracer(spark)
        val out = s"$work/traced-${per.size}"
        val r = if (scan) tracedScan(in, tr, listener, cores)
          else tracedBuild(in, out, tr, listener, cores)
        val tracedTotal = if (scan) Seq("sink.readback", "vulnmatch.fixranges", "vulnmatch.scan").map(tr.total).sum
          else BlockingSpans.map(tr.total).sum - tr.total("upsert_upstream")
        per += (r + ("trace_overhead_s" -> (tracedTotal - wall)))
        lastTr = tr
        deleteTree(new File(out))
      }
      writeSpans(s"$work/spans.json", lastTr)
      layerMetricNames.map(n => (n, median(per.toSeq.map(_.getOrElse(n, 0.0))), layerUnit(n))) ++
        Seq(("cold_s", cold, "s"), ("driver_heap_peak_mb", HeapPeak.peak / 1e6, "MB"))
    }
    val calibLast = calib()
    spark.stop()

    val sentinel = Seq(
      "ncpus" -> cores.toDouble, "load_min" -> loads.minOption.getOrElse(-1.0),
      "load_median" -> median(loads.toSeq), "load_max" -> loads.maxOption.getOrElse(-1.0),
      "calib_first_s" -> calibFirst, "calib_last_s" -> calibLast, "calib_ratio" -> calibLast / calibFirst)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    val info = s"""{"workload":"$workload","action":"$action","iterations":$attempted,""" +
      s""""cold_s":${num(cold)},"warm_s":[${warm.map(num).mkString(",")}],"check_s":${num(checkS)},"fail_frac":${num(failed.toDouble / attempted)},""" +
      s""""inputs":{"files":${listed._1},"bytes":${listed._2}},""" +
      s""""setup_s":${num(setup)},""" +
      s""""sentinel":{${sentinel.map { case (k, v) => s""""$k":${num(v)}""" }.mkString(",")}}}"""
    val result = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{""" +
      metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",") + "}}"
    failures.take(20).foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    Files.write(Paths.get(s"$work/info.json"), info.getBytes(UTF_8))
    Files.write(Paths.get(s"$work/result.json"), result.getBytes(UTF_8))
  }
}
