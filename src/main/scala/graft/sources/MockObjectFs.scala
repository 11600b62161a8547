package graft.sources

import java.io.InputStream
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, Path, PositionedReadable, RawLocalFileSystem, Seekable}

/** An instrumented object-store stand-in: a second Hadoop FileSystem
  * SCHEME (`mockfs://`), local-disk backed, that COUNTS and optionally
  * THROTTLES every byte read through it.
  *
  * Two jobs, both from the reference's deployment reality (it runs
  * exclusively against S3/MinIO — `fpdb-aws/`, `fpdb-store-server/`;
  * bytes-moved is its first-class bench output,
  * `fpdb-main/bench/BytesReadBench.cpp`):
  *
  *  1. '''Scheme coverage''' — graft must never bake in `file:`
  *     assumptions. Listing, fingerprinting, the hybrid zip, bucketed
  *     `defaultTablePath` resolution all run end-to-end here
  *     ([[graft.MockFsSpec]]).
  *  2. '''FS-truth IO accounting''' — `ScanStats.attach`'s task-metric
  *     `fs_bytes` is measured-unreliable for local parquet (the
  *     vectorized reader's positioned reads bypass the
  *     `FileSystem.Statistics` callback; see [[graft.util.ScanStats]]).
  *     These counters sit INSIDE `open()`'s stream instead, so every
  *     read funnels through them no matter which reader path Spark
  *     picks: what [[bytesRead]] reports is exactly what an object
  *     store would bill for. [[graft.StoreIoSpec]] asserts the engine's
  *     byte-level claims (projection reads only its columns' chunks, a
  *     warm hybrid scan fetches only the fetch column, a resident
  *     segment reads zero) as numbers rather than plan shapes.
  *
  * The throttle models the store regime the reference is designed for:
  * [[bytesPerSec]] simulates bounded store→compute bandwidth (bytes
  * sleep proportionally as they cross), [[openLatencyMs]] a per-GET
  * first-byte latency. The bench's `store_modes` block uses it to reproduce the
  * reference's fig-1 economics — caching/hybrid beating pullup once
  * bytes are the bottleneck — on a sandbox with no real S3 endpoint.
  *
  * Counters are global (one JVM, FileSystem instances are cached per
  * scheme by Hadoop anyway); `local[32]` tasks hit them concurrently,
  * hence atomics. Throttling sleeps per read call, per task thread —
  * 32 concurrent streams model 32 concurrent GET connections, which is
  * how S3 parallelism actually behaves.
  */
object MockObjectFs {
  val bytesRead  = new AtomicLong
  val readCalls  = new AtomicLong
  val opens      = new AtomicLong
  val listCalls  = new AtomicLong

  /** Simulated store→compute bandwidth per stream; 0 = unthrottled. */
  @volatile var bytesPerSec: Long = 0L
  /** Simulated per-open (per-GET) first-byte latency; 0 = none. */
  @volatile var openLatencyMs: Long = 0L
  /** Simulated AGGREGATE store→compute bandwidth across ALL streams;
    * 0 = uncapped. The per-stream throttle alone models S3's
    * per-connection behavior, under which N parallel GETs of N files
    * finish in one file's time — wall clock then hides total-byte
    * differences whenever the file count is below the task-slot count
    * (measured: the sf0.1 partition-router block's 1.45× byte win
    * showed ZERO wall-time win because 10 vs 15 one-file day reads both
    * run fully parallel). Real deployments also have an instance-level
    * network cap (cloud VMs bound aggregate NIC throughput regardless
    * of connection count), and at 100 TB that aggregate is what the
    * byte economics bill against — this models it as a shared
    * reservation line: each read reserves its bytes' worth of time on
    * the global clock and sleeps until its slot passes, so wall time
    * tracks TOTAL bytes exactly once streams saturate the cap. */
  @volatile var totalBytesPerSec: Long = 0L
  // the reservation clock anchors to nanoTime, whose ORIGIN IS
  // ARBITRARY (may be negative) — initializing to 0 would anchor the
  // first reservation at the epoch offset and sleep for it (review)
  private val reservedUntil = new AtomicLong(System.nanoTime())

  def reset(): Unit = {
    bytesRead.set(0); readCalls.set(0); opens.set(0); listCalls.set(0)
    reservedUntil.set(System.nanoTime())
  }

  /** (opens, bytesRead, readCalls, listCalls) since the last reset. */
  def snapshot(): (Long, Long, Long, Long) =
    (opens.get, bytesRead.get, readCalls.get, listCalls.get)

  /** Per-stream-thread sleep debt in nanos: buffered local reads arrive
    * in small chunks whose individual sleep rounds to 0 ms, so the
    * throttle accumulates exact debt and sleeps whenever ≥ 1 ms is owed —
    * total sleep per thread is bytes/bandwidth regardless of chunking. */
  private val debtNanos = new ThreadLocal[java.lang.Long] {
    override def initialValue: java.lang.Long = 0L
  }

  private[sources] def charge(n: Long): Unit = if (n > 0) {
    bytesRead.addAndGet(n)
    readCalls.incrementAndGet()
    // BOTH constraints are computed from ONE arrival time and satisfied
    // by ONE sleep to the LATER deadline — sleeping them in series
    // would double-charge an unsaturated stream (1/(1/bw + 1/total)
    // instead of min(bw, total): a single 2 MB/s stream under a 4 MB/s
    // cap would get 1.33 MB/s — review), skewing exactly the cross-pass
    // wall comparisons the throttle exists for.
    val now0 = System.nanoTime()
    var target = Long.MinValue
    val bw = bytesPerSec
    if (bw > 0) {
      val owed = debtNanos.get + n * 1000000000L / bw
      if (owed >= 1000000L) {
        val wholeMs = (owed / 1000000L) * 1000000L
        debtNanos.set(owed - wholeMs)
        target = now0 + wholeMs
      } else debtNanos.set(owed)
    }
    val total = totalBytesPerSec
    if (total > 0) {
      // reserve this read's slice of the shared line (CAS append to the
      // reservation clock); effective aggregate bandwidth is
      // min(streams × per-stream, total)
      val durNanos = n * 1000000000L / total
      var end = 0L
      var done = false
      while (!done) {
        val cur = reservedUntil.get
        end = math.max(cur, now0) + durNanos
        done = reservedUntil.compareAndSet(cur, end)
      }
      target = math.max(target, end)
    }
    if (target != Long.MinValue) {
      val sleepMs = (target - System.nanoTime()) / 1000000L
      if (sleepMs > 0) Thread.sleep(sleepMs)
    }
  }
}

class MockObjectFs extends RawLocalFileSystem {
  override def getScheme: String = "mockfs"
  override def getUri: URI = URI.create("mockfs:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    MockObjectFs.opens.incrementAndGet()
    val lat = MockObjectFs.openLatencyMs
    if (lat > 0) Thread.sleep(lat)
    new FSDataInputStream(new CountingStream(super.open(f, bufferSize)))
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    MockObjectFs.listCalls.incrementAndGet()
    super.listStatus(f)
  }

  /** The default recursive `listFiles` builds `LocatedFileStatus` with a
    * permission load that requires a `file:`-scheme URI — it throws under
    * this scheme. A real object store serves `listFiles(recursive=true)`
    * as ONE flat LIST over the key prefix (s3a pages keys); this mimics
    * that contract with a local walk, counted as a single LIST call like
    * the flat listing it stands in for. */
  override def listFiles(f: Path, recursive: Boolean)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    // BOTH arms bypass the default implementation: the default builds
    // LocatedFileStatus from the raw-local status, whose permission load
    // goes through a file:-only URI path and throws under this scheme —
    // non-recursive callers (FileInputFormat listings) hit it just like
    // recursive ones did
    MockObjectFs.listCalls.incrementAndGet()
    def walk(st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else super.listStatus(st.getPath).toSeq.flatMap(walk)
    val statuses =
      if (recursive) walk(getFileStatus(f))
      else super.listStatus(f).toSeq.filter(_.isFile)
    locatedIterator(statuses)
  }

  /** Single-directory located listing — files AND directories, per the
    * FileSystem contract (Spark's file index recurses through these). */
  override def listLocatedStatus(f: Path)
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    MockObjectFs.listCalls.incrementAndGet()
    locatedIterator(super.listStatus(f).toSeq)
  }

  private def locatedIterator(statuses: Seq[FileStatus])
      : org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] = {
    val it = statuses.iterator
    new org.apache.hadoop.fs.RemoteIterator[org.apache.hadoop.fs.LocatedFileStatus] {
      override def hasNext: Boolean = it.hasNext
      override def next(): org.apache.hadoop.fs.LocatedFileStatus = {
        val st = it.next()
        // copy into a plain FileStatus with an explicit permission: the
        // raw-local status loads permissions lazily via a file:-only URI
        // path, and LocatedFileStatus's constructor reads it eagerly
        val plain = new FileStatus(st.getLen, st.isDirectory,
          st.getReplication, st.getBlockSize, st.getModificationTime,
          st.getAccessTime,
          org.apache.hadoop.fs.permission.FsPermission.getFileDefault,
          null, null, st.getPath)
        new org.apache.hadoop.fs.LocatedFileStatus(
          plain, getFileBlockLocations(plain, 0, plain.getLen))
      }
    }
  }
}

/** Delegating stream that routes every read variant — sequential,
  * positioned, fully — through [[MockObjectFs.charge]]. Deliberately
  * does NOT implement `ByteBufferReadable`, so Parquet's stream wrapper
  * takes its byte-array path; capability probes (`hasCapability`) on
  * `FSDataInputStream` return false rather than lying. */
private class CountingStream(in: FSDataInputStream)
    extends InputStream with Seekable with PositionedReadable {
  override def read(): Int = {
    val b = in.read(); if (b >= 0) MockObjectFs.charge(1); b
  }
  override def read(buf: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(buf, off, len); if (n > 0) MockObjectFs.charge(n); n
  }
  override def read(pos: Long, buf: Array[Byte], off: Int, len: Int): Int = {
    val n = in.read(pos, buf, off, len); if (n > 0) MockObjectFs.charge(n); n
  }
  override def readFully(pos: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    in.readFully(pos, buf, off, len); MockObjectFs.charge(len)
  }
  override def readFully(pos: Long, buf: Array[Byte]): Unit = {
    in.readFully(pos, buf); MockObjectFs.charge(buf.length)
  }
  override def seek(pos: Long): Unit = in.seek(pos)
  override def getPos: Long = in.getPos
  override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
  override def skip(n: Long): Long = in.skip(n)
  override def available(): Int = in.available()
  override def close(): Unit = in.close()
}
