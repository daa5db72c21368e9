package graft.kernel

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * lakeFS transactional commit plane (the reference's `crates/lakefs`,
 * `src/logstore.rs:142-233` + `src/client.rs`): every Delta commit runs as
 * a lakeFS BRANCH transaction —
 *
 *  1. create an ephemeral branch `graft-tx-<uuid>` from the table's branch
 *     (`POST /api/v1/repositories/{repo}/branches`);
 *  2. write the commit file `N.json` onto the transaction branch
 *     (objects API `PUT ...?path=` — refused up front if the branch
 *     snapshot already carries N.json, i.e. the version is visibly taken);
 *  3. `POST .../commits` the branch;
 *  4. MERGE the transaction branch into the table branch — lakeFS answers
 *     409 Conflict when the target changed the same path since the branch
 *     point, which is exactly two writers racing version N: the loser maps
 *     to [[VersionAlreadyExistsException]] and the commit loop's
 *     read-new-commits-and-retry logic takes over (reference
 *     `logstore.rs:320-327`);
 *  5. delete the transaction branch win or lose.
 *
 * Reads/lists/exists go straight to the TABLE branch through the refs API
 * (`GET .../refs/{branch}/objects/ls`, paginated). Auth is HTTP basic with
 * the lakeFS access-key pair, from `LAKEFS_ACCESS_KEY_ID` /
 * `LAKEFS_SECRET_ACCESS_KEY` (or explicit args).
 *
 * Table addressing mirrors the reference's `lakefs://repo/branch/table`:
 * with Hadoop paths the repo is the URI authority and the branch is the
 * first path segment — `lakefs://repo/main/warehouse/tbl`.
 *
 * {{{
 * // once per JVM, before touching lakefs:// tables:
 * LakeFsStore.register("lakefs", "http://lakefs:8000")
 * val t = DeltaTable.forPath(spark, "lakefs://repo/main/warehouse/events")
 * }}}
 *
 * Scope split as with the other object-store registrations: this is the
 * COMMIT/log plane; the parquet data plane rides lakeFS's S3 gateway
 * through the cluster's Hadoop s3a FileSystem (endpoint = the gateway),
 * which is also what [[S3CompatibleStore]] signs against.
 */
class LakeFsClient(
    host: String,
    accessKey: String,
    secretKey: String,
    requestTimeout: java.time.Duration = java.time.Duration.ofSeconds(30)) {

  private val base = host.stripSuffix("/")
  private val http = HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofSeconds(10)).build()
  private val basic = "Basic " + java.util.Base64.getEncoder.encodeToString(
    s"$accessKey:$secretKey".getBytes("UTF-8"))

  // shared strict RFC 3986 form — one implementation across all clients
  private def enc(s: String): String = PathCodec.rfc3986(s)

  private def jstr(s: String): String =
    JsonMethods.compact(JsonMethods.render(JString(s)))

  private def req(url: String): HttpRequest.Builder =
    HttpRequest.newBuilder(URI.create(url))
      .timeout(requestTimeout)
      .header("Authorization", basic)

  private def send[T](r: HttpRequest, h: HttpResponse.BodyHandler[T]): HttpResponse[T] =
    HttpWire.send(http, r, h, "lakeFS")

  private def fail(what: String, resp: HttpResponse[_]): Nothing =
    resp.statusCode() match {
      // rate limits pace the caller's retry via the shared header rule
      case s @ (429 | 503) => HttpWire.throttled(s, resp, s"lakeFS $what")
      case other =>
        throw new java.io.IOException(s"lakeFS $what failed: HTTP $other")
    }

  def createBranch(repo: String, name: String, source: String): Unit = {
    val body = s"""{"name":${jstr(name)},"source":${jstr(source)}}"""
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/branches")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = send(r, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 201) fail(s"create branch $name", resp)
  }

  def deleteBranch(repo: String, name: String): Unit = {
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/branches/${enc(name)}")
      .DELETE().build()
    val resp = send(r, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 204 && resp.statusCode() != 404)
      fail(s"delete branch $name", resp)
  }

  def commit(repo: String, branch: String, message: String,
             allowEmpty: Boolean): Unit = {
    val body =
      s"""{"message":${jstr(message)},"allow_empty":$allowEmpty}"""
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/branches/${enc(branch)}/commits")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = send(r, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 201) fail(s"commit on $branch", resp)
  }

  /** Merge `sourceBranch` into `targetBranch`. False = 409 conflict (the
    * target changed the same paths since the branch point — a lost
    * version race, reference client.rs:219). */
  def merge(repo: String, targetBranch: String, sourceBranch: String,
            message: String): Boolean = {
    val body = s"""{"message":${jstr(message)},"squash_merge":true}"""
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/refs/${enc(sourceBranch)}/merge/${enc(targetBranch)}")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = send(r, HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 | 201 => true
      case 409 => false
      case _ => fail(s"merge $sourceBranch -> $targetBranch", resp)
    }
  }

  def putObject(repo: String, branch: String, path: String,
                bytes: Array[Byte]): Unit = {
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/branches/${enc(branch)}/objects?path=${enc(path)}")
      .header("Content-Type", "application/octet-stream")
      .PUT(HttpRequest.BodyPublishers.ofByteArray(bytes)).build()
    val resp = send(r, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() != 201 && resp.statusCode() != 200)
      fail(s"put object $path", resp)
  }

  /** Metadata-only existence check (`objects/stat`) — the commit-path
    * pre-check and `exists` must not download whole checkpoint-sized
    * bodies just to test presence. */
  def statObject(repo: String, ref: String, path: String): Boolean = {
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/refs/${enc(ref)}/objects/stat?path=${enc(path)}")
      .GET().build()
    val resp = send(r, HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 200 => true
      case 404 => false
      case _ => fail(s"stat object $path", resp)
    }
  }

  def getObject(repo: String, ref: String, path: String): Option[Array[Byte]] = {
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/refs/${enc(ref)}/objects?path=${enc(path)}")
      .GET().build()
    val resp = send(r, HttpResponse.BodyHandlers.ofByteArray())
    resp.statusCode() match {
      case 200 => Some(resp.body())
      case 404 => None
      case _ => fail(s"get object $path", resp)
    }
  }

  def deleteObject(repo: String, branch: String, path: String): Boolean = {
    val r = req(s"$base/api/v1/repositories/${enc(repo)}/branches/${enc(branch)}/objects?path=${enc(path)}")
      .DELETE().build()
    val resp = send(r, HttpResponse.BodyHandlers.ofString())
    resp.statusCode() match {
      case 204 => true
      case 404 => false
      case _ => fail(s"delete object $path", resp)
    }
  }

  /** (path, sizeBytes, mtimeMs) under `prefix` on `ref`, following
    * lakeFS pagination (`has_more`/`next_offset`) — a >1000-entry
    * `_delta_log` must not silently truncate. */
  def listObjects(repo: String, ref: String, prefix: String): Seq[ObjectMeta] = {
    val out = Seq.newBuilder[ObjectMeta]
    var after = ""
    var more = true
    while (more) {
      val r = req(s"$base/api/v1/repositories/${enc(repo)}/refs/${enc(ref)}/objects/ls" +
        s"?prefix=${enc(prefix)}&after=${enc(after)}")
        .GET().build()
      val resp = send(r, HttpResponse.BodyHandlers.ofString())
      if (resp.statusCode() != 200) fail(s"list $prefix", resp)
      val j =
        try JsonMethods.parse(resp.body())
        catch { case e: Exception =>
          throw new java.io.IOException(s"unparseable lakeFS list response", e) }
      (j \ "results") match {
        case JArray(items) => items.foreach { it =>
          val path = it \ "path" match {
            case JString(p) => p
            case _ => throw new java.io.IOException("lakeFS list entry without path")
          }
          val size = it \ "size_bytes" match {
            case JInt(n) => n.toLong
            case JLong(n) => n
            case _ => 0L
          }
          // lakeFS mtime is epoch SECONDS
          val mtime = it \ "mtime" match {
            case JInt(n) => n.toLong * 1000L
            case JLong(n) => n * 1000L
            case _ => 0L
          }
          out += ObjectMeta("/" + path.stripPrefix("/"), size, mtime)
        }
        case _ => throw new java.io.IOException("lakeFS list response without results")
      }
      more = (j \ "pagination" \ "has_more") match {
        case JBool(b) => b
        case _ => false
      }
      if (more) after = (j \ "pagination" \ "next_offset") match {
        case JString(s) if s.nonEmpty => s
        case _ => throw new java.io.IOException(
          s"lakeFS list of $prefix claims has_more without next_offset")
      }
    }
    out.result().sortBy(_.key)
  }
}

/** [[LogStore]] over [[LakeFsClient]]: branch-transactional `writeAtomic`,
  * plain reads from the table branch. Paths are
  * `scheme://repo/branch/<table path>`. */
class LakeFsLogStore(val conf: Configuration,
                     client: LakeFsClient) extends LogStore {

  /** (repo, branch, in-repo key) from a table-scoped path. */
  private def split(p: Path): (String, String, String) = {
    val u = p.toUri
    val repo = Option(u.getAuthority).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"lakeFS path $p carries no repository (expected scheme://repo/branch/...)"))
    val segs = u.getPath.stripPrefix("/").split("/", 2)
    if (segs.length < 2 || segs(0).isEmpty)
      throw new IllegalArgumentException(
        s"lakeFS path $p carries no branch (expected scheme://repo/branch/...)")
    (repo, segs(0), segs(1))
  }

  private def qualify(p: Path, repo: String, branch: String, key: String): Path =
    new Path(s"${p.toUri.getScheme}://$repo/$branch/$key")

  // read paths pace server-directed throttles (HttpWire.pacedRetry, same
  // budget/floor discipline as ObjectStoreLogStore); write paths
  // deliberately do NOT — writeAtomic's pace belongs to the commit loop,
  // whose ghost-commit disambiguation must run between attempts
  override def list(dir: Path): Seq[FileStatus] = {
    val (repo, branch, key) = split(dir)
    val prefix = key.stripSuffix("/") + "/"
    HttpWire.pacedRetry(s"list of $dir")(client.listObjects(repo, branch, prefix))
      // LogStore contract: DIRECT children only — a prefix listing also
      // surfaces nested layouts like _delta_log/_sidecars/*.parquet,
      // which must not masquerade as log entries
      .filter(m => !m.key.stripPrefix("/").stripPrefix(prefix).contains('/'))
      .map { m =>
        new FileStatus(m.size, false, 1, 0, m.mtimeMs,
          qualify(dir, repo, branch, m.key.stripPrefix("/")))
      }
  }

  override def read(path: Path): Seq[String] = {
    val (repo, branch, key) = split(path)
    HttpWire.pacedRetry(s"read of $path")(client.getObject(repo, branch, key)) match {
      case Some(b) => new String(b, "UTF-8").split("\n", -1).toSeq
        .filter(_.nonEmpty)
      case None => throw new java.io.FileNotFoundException(path.toString)
    }
  }

  override def writeAtomic(path: Path, lines: Iterator[String]): Unit = {
    val (repo, branch, key) = split(path)
    val bytes = (lines.mkString("\n") + "\n").getBytes("UTF-8")
    val txn = s"graft-tx-${java.util.UUID.randomUUID()}"
    // createBranch INSIDE the cleanup scope: an ambiguous create (timeout
    // after the POST landed server-side) surfaces as IOException, the
    // commit loop retries with a FRESH uuid, and the orphaned branch was
    // referenced by nothing and reaped by no path — a flaky network
    // accumulated dead graft-tx branches without bound
    try client.createBranch(repo, txn, source = branch)
    catch {
      case e: java.io.IOException =>
        try client.deleteBranch(repo, txn)
        catch { case _: java.io.IOException => } // best-effort; may not exist
        throw e
    }
    var merged = false
    try {
      // fast refusal: the branch snapshot (= the table branch at branch
      // point) already carries this version
      if (client.statObject(repo, txn, key))
        throw new VersionAlreadyExistsException(path.toString)
      client.putObject(repo, txn, key, bytes)
      client.commit(repo, txn, s"graft commit $key", allowEmpty = false)
      merged = client.merge(repo, branch, txn, s"graft merge $key")
      if (!merged)
        // 409: the table branch gained the same path since the branch
        // point — the two-writers-one-version race, lost
        throw new VersionAlreadyExistsException(path.toString)
    } finally {
      // win or lose, the transaction branch goes away (reference
      // logstore.rs:225 "Always delete the transaction branch when done")
      try client.deleteBranch(repo, txn)
      catch { case e: java.io.IOException =>
        DeltaLog.logger.warn(s"lakeFS: leaked transaction branch $txn", e) }
    }
  }

  override def exists(path: Path): Boolean = {
    val (repo, branch, key) = split(path)
    HttpWire.pacedRetry(s"stat of $path")(client.statObject(repo, branch, key))
  }

  override def delete(path: Path): Boolean = {
    val (repo, branch, key) = split(path)
    val deleted = client.deleteObject(repo, branch, key)
    if (deleted)
      client.commit(repo, branch, s"graft delete $key", allowEmpty = false)
    deleted
  }
}

/** One registration per scheme; credentials from the environment
  * (`LAKEFS_ACCESS_KEY_ID` / `LAKEFS_SECRET_ACCESS_KEY`). */
object LakeFsStore {

  def register(scheme: String, endpoint: String,
               env: Map[String, String] = sys.env,
               conf: Configuration = new Configuration()): LogStore = {
    val store = routing(endpoint, env, conf)
    DeltaLog.registerLogStore(scheme, store)
    store
  }

  def routing(endpoint: String,
              env: Map[String, String] = sys.env,
              conf: Configuration = new Configuration()): LogStore = {
    // fail at registration, not as opaque 401s the commit loop would
    // retry: lakeFS has no anonymous mode
    val access = env.getOrElse("LAKEFS_ACCESS_KEY_ID", throw
      new IllegalArgumentException(
        "LAKEFS_ACCESS_KEY_ID must be set to register a lakeFS store"))
    val secret = env.getOrElse("LAKEFS_SECRET_ACCESS_KEY", throw
      new IllegalArgumentException(
        "LAKEFS_ACCESS_KEY_ID is set but LAKEFS_SECRET_ACCESS_KEY is not"))
    new LakeFsLogStore(conf, new LakeFsClient(endpoint, access, secret))
  }
}
