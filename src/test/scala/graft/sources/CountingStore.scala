package graft.sources

import scala.collection.concurrent.TrieMap

/** A [[LogStore]] that counts its listings and, per file, its reads —
  * the witness for how often a log reader touches the log. */
final class CountingStore(inner: LogStore) extends LogStore {
  val lists = new java.util.concurrent.atomic.AtomicInteger(0)
  val reads = TrieMap.empty[String, Int]
  private def count(name: String): Unit =
    reads.updateWith(name)(n => Some(n.getOrElse(0) + 1))
  override def publish(name: String, content: String): Boolean =
    inner.publish(name, content)
  override def list(): Seq[String] = { lists.incrementAndGet(); inner.list() }
  override def read(name: String): String = { count(name); inner.read(name) }
  override def delete(name: String): Unit = inner.delete(name)
  override def publishBytes(name: String, content: Array[Byte]): Boolean =
    inner.publishBytes(name, content)
  override def readBytes(name: String): Array[Byte] = {
    count(name); inner.readBytes(name)
  }
}
