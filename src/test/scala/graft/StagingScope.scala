package graft

import org.scalatest.{Outcome, TestSuite}

/** Runs every test of the suite in its own [[graft.operators.Staging.scoped]]
  * scope, so the frames a test stages are released when it ends and never
  * serve a later test. A test that needs a release mid-test (a query
  * repeated after its input path changed) wraps that query in a scope of
  * its own.
  */
trait StagingScope extends TestSuite {
  override def withFixture(test: NoArgTest): Outcome =
    graft.operators.Staging.scoped(super.withFixture(test))
}
