package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import org.apache.hadoop.conf.Configuration

/** Java-serializable wrapper for a Hadoop `Configuration`, so task-side
  * writers ([[TfRecordIngest.writeExamples]], [[WebDatasetIngest.writeSamples]],
  * [[ArrowIngest.writeArrowStreams]]) resolve their output `FileSystem` from
  * the JOB's configuration instead of a task-side `new Configuration()`. On
  * `local[*]` against `file://` the two are identical; on a cluster the job
  * conf carries the object-store credentials/endpoints (fs.s3a.* etc.) that
  * executor defaults lack. `Configuration` itself is `Writable` but not
  * `Serializable`, hence the handwritten hooks (the same shape Spark uses
  * internally, re-stated here on public API only).
  */
final class SerializableHadoopConf(@transient var value: Configuration)
    extends Serializable {

  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }

  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
