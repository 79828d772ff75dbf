package graft.ops

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSpec}

/** Every durable index the registry declares survives the cross-session
  * reuse path: a session that finds the files re-registers each table
  * from its spec with the schema and bucket spec the build gave it, and
  * rewrites no file. */
class DurableIndexSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.001"

  private def fileState(loc: Path): Map[String, (Long, Long)] = {
    val st = Files.walk(loc)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> ((Files.getLastModifiedTime(p).toMillis, Files.size(p))))
        .toMap
    } finally st.close()
  }

  private def bucketSpec(s: SparkSession, table: String): Option[BucketSpec] =
    s.sessionState.catalog.getTableMetadata(TableIdentifier(table)).bucketSpec

  test("every spec reopens in a fresh session with its built schema and bucket spec, rewriting no file") {
    val spark = SparkSpec.spark
    val specs = SparkEntry.durableIndexes
    assert(specs.map(_.location).distinct.size === specs.size,
      "two specs share a location prefix")
    assert(specs.flatMap(_.benchKey).distinct.size === specs.count(_.benchKey.isDefined),
      "two specs share an index_build key")
    specs.foreach { spec =>
      withClue(s"${spec.location}: ") {
        val ix = DurableIndex.open(spark, sfDir, spec)
        val names = spec.tables.map(t => ix.table(t.name))
        val schemas = names.map(spark.table(_).schema)
        val buckets = names.map(bucketSpec(spark, _))
        assert(schemas === spec.tables.map(_.schema),
          "the build must write the declared schema")
        assert(buckets === spec.tables.map(_.bucket.map { case (c, n) =>
          BucketSpec(n, Seq(c), Seq(c)) }))
        val before = fileState(ix.loc)
        assert(before.nonEmpty)
        // catalog entries die with a session; the files carry the index
        names.foreach(n => spark.sql(s"DROP TABLE $n"))
        val fresh = spark.newSession()
        assert(names.forall(!fresh.catalog.tableExists(_)))
        val again = DurableIndex.open(fresh, sfDir, spec)
        assert(again.loc === ix.loc)
        assert(names.map(fresh.table(_).schema) === schemas)
        assert(names.map(bucketSpec(fresh, _)) === buckets)
        assert(fileState(ix.loc) === before, "reopening rewrote index files")
      }
    }
  }
}
