package graft.io

import java.io.{EOFException, InputStream}
import java.net.{HttpURLConnection, URI, URL}
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs._
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A read-only Hadoop FileSystem over plain-HTTP object GETs, with exact
  * per-request op/byte accounting — the Spark-first re-expression of the
  * reference's monitored filesystem (runner.cc:75–172 wraps DuckDB's
  * httpfs the same way: every ranged read is counted as one op and its
  * bytes accumulated, producing the run-level "read ops / bytes read"
  * stats). The reference speaks to its object store over plain HTTP
  * (`SET s3_use_ssl=false`, runner.cc:210), so an HTTP object server IS
  * the faithful remote profile; stock `fs.http.impl` can't back a scan
  * (no listStatus/seek), hence this implementation.
  *
  * Semantics mirror an object store, not a POSIX tree: every path is an
  * immutable object (no directories, no listing of prefixes, no writes).
  * `open` returns a lazily-connecting seekable stream: each `seek` that
  * breaks the current position closes the connection and the next read
  * issues one `Range: bytes=pos-` GET — so sequential scans cost one op
  * per reopened region, exactly how the reference's byte-range reads
  * count (runner.cc:109–117). `readFully(pos, …)` (parquet footer +
  * column chunks) issues one bounded-range GET per call.
  *
  * Register with `spark.hadoop.fs.ghttp.impl = graft.io.GraftHttpFileSystem`
  * and read `ghttp://host:port/object.parquet`. Counters are global
  * (AtomicLong) because FileSystem instances are cache-managed by
  * Hadoop; [[GraftHttpFileSystem.snapshot]] + [[resetCounters]] give the
  * per-run delta, same as the reference's run-level stat block.
  */
class GraftHttpFileSystem extends FileSystem {
  import GraftHttpFileSystem._

  private var fsUri: URI = _
  private var auth: Option[(String, String)] = None
  private var readahead: Long = 1L << 20

  override def initialize(uri: URI, conf: org.apache.hadoop.conf.Configuration)
      : Unit = {
    super.initialize(uri, conf)
    setConf(conf)
    fsUri = URI.create(s"$scheme://${uri.getAuthority}")
    // Credential surface mirroring the reference's access-key flags
    // (runner.cc:211–216 wires -i/-k into its object-store connection):
    // when both keys are configured every request carries a deterministic
    // HMAC-signed Authorization header; servers that require auth reject
    // anonymous requests with 401 (tested end-to-end in RunnerSpec).
    auth = for {
      id <- Option(conf.get("fs.ghttp.auth.id"))
      secret <- Option(conf.get("fs.ghttp.auth.secret"))
    } yield (id, secret)
    readahead = conf.getLong("fs.ghttp.readahead.bytes", 1L << 20)
  }

  private def scheme: String = "ghttp"
  override def getScheme: String = scheme
  override def getUri: URI = fsUri

  private def toHttp(path: Path): URL = {
    val u = path.toUri
    new URL(s"http://${Option(u.getAuthority).getOrElse(fsUri.getAuthority)}${u.getPath}")
  }

  /** Per-object metadata cache (reference README.md:98 caches object
    * metadata the same way): objects in this profile are immutable, and
    * Spark's file index may stat one object several times per query
    * (listing, then split planning, then open) — without the cache each
    * stat is a wire HEAD. Instance-lifetime is the right scope: Hadoop's
    * FS cache keeps one instance per (scheme, authority, ugi), so the
    * cache lives exactly as long as the connection profile it fronts. */
  private val statusCache =
    new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  override def getFileStatus(f: Path): FileStatus =
    // computeIfAbsent so concurrent stats of one object (parallel split
    // planning) collapse to a single wire HEAD; a failed fetch (404/401)
    // propagates and caches nothing.
    statusCache.computeIfAbsent(f.toUri.getPath, _ => fetchFileStatus(f))

  private def fetchFileStatus(f: Path): FileStatus = {
    val url = toHttp(f)
    val conn = url.openConnection().asInstanceOf[HttpURLConnection]
    conn.setRequestMethod("HEAD")
    signFor(auth, "HEAD", url.getPath).foreach(
      conn.setRequestProperty("Authorization", _))
    try {
      if (conn.getResponseCode == 401)
        throw new org.apache.hadoop.security.AccessControlException(
          s"$f: HTTP 401 — server requires credentials " +
            "(fs.ghttp.auth.id / fs.ghttp.auth.secret; runner flags -i/-k)")
      if (conn.getResponseCode != 200)
        throw new java.io.FileNotFoundException(
          s"$f: HTTP ${conn.getResponseCode}")
      headOps.incrementAndGet()
      val len = conn.getHeaderFieldLong("Content-Length", -1L)
      // fail fast here rather than as a baffling always-EOF stream later:
      // an object profile without a declared length can't back a scan
      if (len < 0)
        throw new java.io.IOException(
          s"$f: HEAD response has no Content-Length — not an object store")
      new FileStatus(len, false, 1, 128L << 20, 0L, f)
    } finally conn.disconnect()
  }

  /** Object stores list objects, not directories; Spark's file index
    * lists the exact path it was given — one object, one status. */
  override def listStatus(f: Path): Array[FileStatus] =
    Array(getFileStatus(f))

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val len = getFileStatus(f).getLen
    new FSDataInputStream(
      new HttpObjectInputStream(toHttp(f), len, auth, readahead))
  }

  override def setWorkingDirectory(d: Path): Unit = ()
  override def getWorkingDirectory: Path = new Path(fsUri)

  private def readOnly = new UnsupportedOperationException(
    s"$scheme:// is a read-only object profile")
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream =
    throw readOnly
  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream =
    throw readOnly
  override def rename(src: Path, dst: Path): Boolean = throw readOnly
  override def delete(f: Path, recursive: Boolean): Boolean = throw readOnly
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    throw readOnly
}

object GraftHttpFileSystem {
  /** Ranged GETs issued (the reference's "read ops"). */
  val readOps = new AtomicLong(0)
  /** HEAD (metadata) requests — counted separately; the reference's op
    * count covers data reads only. */
  val headOps = new AtomicLong(0)
  /** Bytes actually consumed off the wire. */
  val bytesRead = new AtomicLong(0)

  /** Size of the first sequential GET after a seek (see
    * [[HttpObjectInputStream]]). */
  private[graft] val FirstWindow: Long = 64L << 10

  def snapshot: (Long, Long, Long) =
    (readOps.get(), headOps.get(), bytesRead.get())
  def resetCounters(): Unit = { readOps.set(0); headOps.set(0); bytesRead.set(0) }

  /** Deterministic request signature: `GRAFT <id>:<hex(hmac-sha256(secret,
    * method + "\n" + path))>`. A keyed MAC rather than the raw secret in a
    * header — the shape of object-store request signing (the reference's
    * store authenticates each request from its access-key pair the same
    * way), minus provider-specific canonicalization. */
  def signFor(auth: Option[(String, String)], method: String,
              path: String): Option[String] =
    auth.map { case (id, secret) =>
      val mac = javax.crypto.Mac.getInstance("HmacSHA256")
      mac.init(new javax.crypto.spec.SecretKeySpec(
        secret.getBytes("UTF-8"), "HmacSHA256"))
      val sig = mac.doFinal(s"$method\n$path".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      s"GRAFT $id:$sig"
    }

  /** Seekable HTTP object stream: one `Range: bytes=pos-…` GET per
    * repositioned read region, BOUNDED by a window that starts small and
    * grows: the first GET after a seek asks for [[FirstWindow]] (64 KiB,
    * or the readahead cap fs.ghttp.readahead.bytes if that is smaller),
    * and each window read to its end doubles the next, up to the cap
    * (default 1 MiB). An unbounded to-EOF range would have the server
    * transmit the whole object remainder for every repositioned region
    * the scan only samples — measured 2.1x the object size pushed per
    * flagship query against 0.7x consumed (RunnerSpec's wire-
    * reconciliation test). Starting small keeps a short read cheap:
    * parquet's dictionary filter reads each predicate column's
    * dictionary page (a few hundred bytes) this way before the vectored
    * chunk reads fetch the same bytes again, and a full window per such
    * read would ship 1 MiB for each. A long sequential consumer reaches
    * the full window after a few doublings (one further counted op per
    * window, the S3 client random-fadvise pattern). */
  private final class HttpObjectInputStream(url: URL, len: Long,
                                            auth: Option[(String, String)],
                                            readahead: Long)
      extends InputStream with Seekable with PositionedReadable {

    private def openSigned(): HttpURLConnection = {
      val c = url.openConnection().asInstanceOf[HttpURLConnection]
      signFor(auth, "GET", url.getPath).foreach(
        c.setRequestProperty("Authorization", _))
      c
    }

    private val firstWindow = math.min(FirstWindow, readahead)
    private var window = firstWindow
    private var pos = 0L
    private var in: InputStream = _
    private var conn: HttpURLConnection = _

    private def ensureOpen(): InputStream = {
      if (in == null) {
        conn = openSigned()
        val hi =
          if (readahead > 0) math.min(pos + window, len) - 1 else len - 1
        conn.setRequestProperty("Range", s"bytes=$pos-$hi")
        val rc = conn.getResponseCode
        if (rc != 206 && rc != 200)
          throw new java.io.IOException(s"$url: HTTP $rc for range $pos-")
        readOps.incrementAndGet()
        in = conn.getInputStream
        // A server MAY ignore Range and answer 200 with the whole object
        // (RFC 7233); consuming from offset 0 as if it were `pos` would
        // silently corrupt reads — skip up to position (those bytes DID
        // cross the wire, so they count).
        if (rc == 200 && pos > 0) {
          in.skipNBytes(pos)
          bytesRead.addAndGet(pos)
        }
      }
      in
    }

    private def closeCurrent(): Unit = {
      if (in != null) { in.close(); conn.disconnect(); in = null; conn = null }
    }

    /** The current window was read to its end: open the next, twice as
      * large, up to the readahead cap. */
    private def nextWindow(): InputStream = {
      closeCurrent()
      window = math.min(window * 2, readahead)
      ensureOpen()
    }

    override def seek(newPos: Long): Unit = {
      if (newPos != pos) { closeCurrent(); pos = newPos; window = firstWindow }
    }
    override def getPos: Long = pos
    override def seekToNewSource(targetPos: Long): Boolean = false

    override def read(): Int = {
      if (pos >= len) return -1
      var b = ensureOpen().read()
      if (b < 0) b = nextWindow().read() // window exhausted mid-object
      if (b >= 0) { pos += 1; bytesRead.incrementAndGet() }
      b
    }

    override def read(b: Array[Byte], off: Int, l: Int): Int = {
      if (pos >= len) return -1
      var n = ensureOpen().read(b, off, l)
      if (n < 0) n = nextWindow().read(b, off, l) // window exhausted
      if (n > 0) { pos += n; bytesRead.addAndGet(n) }
      n
    }

    // One bounded-range GET per positioned read — the parquet footer /
    // column-chunk access pattern, and exactly one counted op each.
    override def read(position: Long, buffer: Array[Byte], offset: Int,
                      length: Int): Int = {
      if (position >= len) return -1
      val hi = math.min(position + length, len) - 1
      val c = openSigned()
      c.setRequestProperty("Range", s"bytes=$position-$hi")
      try {
        val rc = c.getResponseCode
        if (rc != 206 && rc != 200)
          throw new java.io.IOException(s"$url: HTTP $rc for range $position-$hi")
        readOps.incrementAndGet()
        val s = c.getInputStream
        // range-ignoring server (200 = whole object): skip to the offset
        // instead of silently reading the wrong bytes (see ensureOpen)
        if (rc == 200 && position > 0) {
          s.skipNBytes(position)
          bytesRead.addAndGet(position)
        }
        var total = 0
        var n = 0
        while (total < length && n >= 0) {
          n = s.read(buffer, offset + total, length - total)
          if (n > 0) total += n
        }
        bytesRead.addAndGet(total)
        total
      } finally c.disconnect()
    }

    override def readFully(position: Long, buffer: Array[Byte], offset: Int,
                           length: Int): Unit = {
      val n = read(position, buffer, offset, length)
      if (n < length)
        throw new EOFException(s"$url: wanted $length bytes at $position, got $n")
    }
    override def readFully(position: Long, buffer: Array[Byte]): Unit =
      readFully(position, buffer, 0, buffer.length)

    override def close(): Unit = closeCurrent()
  }
}
