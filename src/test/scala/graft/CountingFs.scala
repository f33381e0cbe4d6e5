package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FSDataInputStream, Path, RawLocalFileSystem}

/** The local file system under its own `counting:` scheme, counting every
  * `open` of a version manifest (a file under `_graft_versions/`), so a
  * spec can price the manifest reads of a lake operation. A table at
  * `counting:///tmp/x/t` lives at `/tmp/x/t` on local disk.
  */
class CountingFs extends RawLocalFileSystem {
  override def getUri: URI = CountingFs.Uri
  override def getScheme: String = CountingFs.Scheme
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (f.toUri.getPath.contains("/_graft_versions/"))
      CountingFs.manifestOpens.incrementAndGet()
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val Scheme = "counting"
  val Uri: URI = URI.create(s"$Scheme:///")
  val manifestOpens = new AtomicLong

  /** Registers the scheme for `FileSystem` and for `FileContext` (the
    * version-pointer swap renames through `FileContext`).
    */
  def register(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    conf.set(s"fs.AbstractFileSystem.$Scheme.impl", classOf[CountingAfs].getName)
  }
}

/** [[CountingFs]] as the `AbstractFileSystem` that `FileContext` loads. */
class CountingAfs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new CountingFs, conf, CountingFs.Scheme, false)
