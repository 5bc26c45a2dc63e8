package graft.controlplane

import org.scalatest.funsuite.AnyFunSuite

class KeygroupRouterSpec extends AnyFunSuite {
  test("round-robin remap balances keygroups (PerformanceEvaluator policy)") {
    val rr = KeygroupRouter.roundRobin(128, 4)
    assert(rr.toSet === Set(0, 1, 2, 3))
    assert(rr.count(_ == 0) === 32)
  }

  test("load-balance controller remaps on skew") {
    // task 0 carries keygroups 0..63 with heavy load; expect a remap
    val desc = OperatorDescriptor.contiguous("op", 2, "countV1", 128)
    val plan = QueryPlanDescriptor(128, Map("op" -> desc))
    var staged: Vector[Int] = desc.keygroupAssignment
    var executed = false
    val exec = new ReconfigurationExecutor {
      def getPlan: QueryPlanDescriptor = plan
      def assignExecutionLogic(o: String, u: String): Unit = ()
      def assignResources(o: String, p: Int): Unit = ()
      def assignWorkload(o: String, a: Vector[Int]): Unit = { staged = a }
      def execute(reason: String): ReconfigReport = {
        executed = true
        ReconfigReport(reason, Map.empty, plan, plan)
      }
    }
    val ctl = new LoadBalanceController("op")
    // keygroup 0 is hot: 1000 rows; everything else 1 row
    val load = Map(0 -> 1000L) ++ (1 until 128).map(_ -> 1L).toMap
    val r = ctl.onBatch(exec, 0L, load)
    assert(r.isDefined && executed)
    // hot keygroup isolated: the other task takes most cold groups
    val hotTask = staged(0)
    val coldOnHot = (1 until 128).count(kg => staged(kg) == hotTask)
    assert(coldOnHot < 32, s"hot task still carries $coldOnHot cold groups")
  }
}
