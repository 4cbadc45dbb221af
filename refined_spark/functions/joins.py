"""Broadcast policy: plan-time hints only where they are provably safe.

An explicit F.broadcast() hint is NOT demotable — AQE cannot fall back to a
shuffle join when the build side turns out to be tens of GB, so a hard hint
on any table that scales with the corpus, dictionary, or entity set
(entity_embeddings at 33.8M x 300 floats is 40-80 GB; the flat PEM
dictionary is ~18M x 30 rows; banded LSH surfaces are |surfaces| x bands)
OOMs every executor at 100x. Policy:

  - TRUE dimension tables whose size is bounded by the schema, not the
    data (nation/region, the human-qcode set, a user's ANN query set) get
    F.broadcast at the join site: it saves AQE a stats round-trip and can
    never blow up.
  - Everything else joins with NO hint. Catalyst's size estimate
    auto-broadcasts under autoBroadcastJoinThreshold, and AQE upgrades
    shuffle joins to broadcast at runtime from OBSERVED sizes
    (localShuffleReader, no extra shuffle) — so small-scale runs keep
    broadcast performance while 100x runs degrade gracefully to shuffled
    hash / sort-merge instead of OOM.

The non-broadcast path is exercised by tests/test_pipeline_e2e.py with
spark.sql.autoBroadcastJoinThreshold=-1 (forces every unhinted join to its
shuffle form) asserting the e2e F1 gate still holds.
"""
