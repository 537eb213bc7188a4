package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session harness: one local SparkSession per suite (lazy), UTC,
  * small shuffle parallelism for test speed, ns-parquet legacy conf on so
  * Tables.events works everywhere.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.util.Sessions.local("4", 4)
    .appName(getClass.getSimpleName)
    .getOrCreate()

  def sf0001 = "/root/testdata/sf0.001"

  /** Temp dir for sinks/checkpoints, recursively deleted on JVM exit —
    * repeated `sbt test` runs must not accumulate /tmp residue (same
    * discipline the engine itself applies to its stream staging dirs).
    */
  def tmpDir(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    SparkSpec.registerForCleanup(p)
    p.toString
  }
}

object SparkSpec {
  private val created = mutable.ArrayBuffer.empty[Path]
  private lazy val hookInstalled: Unit =
    sys.addShutdownHook {
      created.synchronized(created.toList).foreach { p =>
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(p.toFile)
      }
    }

  def registerForCleanup(p: Path): Unit = {
    hookInstalled
    created.synchronized(created += p): Unit
  }
}
