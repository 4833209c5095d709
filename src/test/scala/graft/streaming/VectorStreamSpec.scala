package graft.streaming

class VectorStreamSpec extends StreamGateChecks {

  test("streamed ANN tags equal the batch kNN graph (train-offline/score-in-stream)")(
    gate("ann_tag_stream_vs_knn_graph"))

  test("an ANN tagger batch replayed from its checkpoint replaces its own output (exactly-once)")(
    gate("ann_tag_replay_exactly_once"))
}
