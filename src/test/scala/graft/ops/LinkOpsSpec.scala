package graft.ops

import graft.{JobFence, Profile, SparkSpec}

/** The link-chain queries prepare their fixture's link artifacts through
  * Pipeline.prepareLink, once per session, as every pipeline run does. */
class LinkOpsSpec extends SparkSpec {

  test("a second kg_link_chain build in one session runs no link-preparation job") {
    val dir = Profile.DefaultSf
    LinkOps.kgLinkChain(spark, dir).queryExecution.executedPlan
    val (_, jobs) = JobFence.jobsOf(spark) {
      LinkOps.kgLinkChain(spark, dir).queryExecution.executedPlan
    }
    // neither the link artifacts nor the documents table's file schema
    // (inferred once per session) are built again
    assert(jobs.isEmpty, s"the second build ran jobs: $jobs")
  }
}
