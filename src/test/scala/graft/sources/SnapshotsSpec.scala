package graft.sources

import graft.model.Fetched
import org.apache.spark.sql.Encoders
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot root is read with a static schema; a model change that the
  * schema misses would silently drop a column, so it must fail here.
  */
class SnapshotsSpec extends AnyFunSuite {

  test("RootSchema holds every Fetched field with the same type") {
    val root = Snapshots.RootSchema.fields.map(f => f.name -> f.dataType).toMap
    Encoders.product[Fetched].schema.fields.foreach { f =>
      assert(root.get(f.name).contains(f.dataType), s"RootSchema lacks ${f.name}: ${f.dataType}")
    }
  }
}
