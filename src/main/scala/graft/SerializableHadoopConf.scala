package graft

import org.apache.hadoop.conf.Configuration
import scala.jdk.CollectionConverters._

/**
 * Hadoop Configuration is not java-serializable; ship it to executors as a
 * key/value list and rebuild lazily per task.
 */
final class SerializableHadoopConf(@transient private val conf: Configuration) extends Serializable {
  private val props: Array[(String, String)] =
    conf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
  @transient private lazy val rebuilt: Configuration = {
    val c = new Configuration(false)
    props.foreach { case (k, v) => c.set(k, v) }
    c
  }
  def value: Configuration = rebuilt
}
