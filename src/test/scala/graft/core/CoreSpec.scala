package graft.core

import graft.SparkSpec
import graft.core.Finalize.Container
import graft.lang.RM

class CoreSpec extends SparkSpec {
  import spark.implicits._

  // ---- jflatten rules (builtin_test.cljc:18-42) ----
  test("jflatten: empty seq is no-match, singleton unwraps, multi stays") {
    assert(Finalize.jflatten(Container(Nil)).isEmpty)
    assert(Finalize.jflatten(Container(Seq(5))).contains(5))
    assert(Finalize.jflatten(Container(Seq(1, 2))).contains(Seq(1, 2)))
  }
  test("jflatten: nested containers splice; explicit arrays survive") {
    assert(Finalize.jflatten(
      Container(Seq(Container(Seq(1, 2)), 3))).contains(Seq(1, 2, 3)))
    // explicit JSON array keeps its arity even as a singleton
    assert(Finalize.jflatten(Seq(5)).contains(Seq(5)))
    assert(Finalize.jflatten(Container(Seq(Seq(5)))).contains(Seq(5)))
  }
  test("jflatten: no-match entries drop out of objects") {
    assert(Finalize.jflatten(Map("a" -> 1, "b" -> Container(Nil)))
      .contains(Map("a" -> 1)))
  }

  // ---- path steps (quirk battery, builtin_test.cljc:318-456) ----
  // compiled by the text frontend over a real frame's columns
  // (RM.evalCol, the distributed path f_path_steps runs)
  private def nested = spark.read.json(Seq(
    """{"orders": [
         {"id": 1, "items": [{"sku": "a", "qty": 2}, {"sku": "b", "qty": 1}]},
         {"id": 2, "items": [{"sku": "c", "qty": 5}]}
       ]}""").toDS())
  private def pathValue(src: String): Any =
    RM.evalCol(src, nested).head().get(0)

  test("get-step maps over arrays; flatten splices one level") {
    assert(pathValue("orders.id") == Seq(1L, 2L))
    assert(pathValue("$count(orders.items)") == 3L)
  }

  test("non-compositional a[i]: index applies per parent, not merged") {
    // orders.items[0] → first item of EACH order (2 results)
    assert(pathValue("orders.items[0].sku") == Seq("a", "c"))
    // vs indexing the spliced sequence → single item
    assert(pathValue("orders.items.$[0].sku") == "a")
  }

  test("filter/map/value steps and range") {
    assert(pathValue("orders.items[qty > 1].qty") == Seq(2L, 5L))
    assert(pathValue("orders.items[qty > 1].(qty * 10)") == Seq(20L, 50L))
    assert(RM.eval("[3..6]", spark).contains(Seq(3L, 4L, 5L, 6L)))
  }

  test("Finalize.result applies container semantics to frames") {
    assert(Finalize.result(spark.range(0).toDF()).isEmpty)
    assert(Finalize.result(Seq(7).toDF("v")).contains(7))
    assert(Finalize.result(Seq(1, 2).toDF("v")).contains(Seq(1, 2)))
  }
}
