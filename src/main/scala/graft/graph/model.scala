package graft.graph

/** Core table row types (SURVEY.md §1.5 mapping of the reference's
  * adjacency-graph model, ParaCOSM/CSM/graph/graph.h:63-100, onto tables).
  * Everything in the data plane is Long/Int/Double — no sentinels: a deleted
  * vertex simply has no row (the reference uses NOT_EXIST=UINT_MAX,
  * utils/types.h:19; we use anti-joins instead, SURVEY §1.2).
  */
final case class Edge(src: Long, dst: Long)

final case class Vertex(id: Long, url: String, lang: String)

/** CDC record mirroring the reference's InsertUnit (utils/types.h:34-42):
  * op ∈ {"v","-v","e","-e"}; `seq` is the strict stream order the reference
  * gets implicitly from its FIFO queue (graph.cpp:251-285). */
final case class GraphUpdate(seq: Long, op: String, id1: Long, id2: Long, label: Int)
