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
    // spark.read.parquet infers the file schema with a job on every read,
    // and the query reads the documents table twice; those jobs belong to
    // the input, not to the link stage
    val schemaReads = jobs.filter(_.startsWith("parquet at Tables.scala"))
    assert(jobs == schemaReads, s"the second build ran jobs: $jobs")
  }
}
