"""FIXTURES case L (resume determinism): a checkpoint-resumed run must
reproduce the identical change set as the fresh run, and it must build
the candidate pair table only for the stages it actually recomputes."""

import os

from osm_conflate_spark.config import ConflateConfig
from osm_conflate_spark.gen import gen_dataset, gen_osm
from osm_conflate_spark.plans import pipeline as pipeline_mod
from osm_conflate_spark.plans.pipeline import ConflatePipeline

from helpers import changes_set_spark, ds_to_spark, osm_to_spark


def test_resume_reproduces_identical_changes(spark, tmp_path, monkeypatch):
    ds_pdf = gen_dataset(120, seed=91)
    osm_pdf = gen_osm(ds_pdf, seed=92)
    cfg = ConflateConfig()
    out = str(tmp_path / "ckpt")

    calls = []
    real = pipeline_mod.candidate_pairs

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(pipeline_mod, "candidate_pairs", counting)

    def run(resume):
        calls.clear()
        pipe = ConflatePipeline(spark, cfg, out_dir=out, resume=resume)
        res = pipe.run(ds_to_spark(spark, ds_pdf), osm_to_spark(spark, osm_pdf))
        return pipe, res, changes_set_spark(res["changes"]), len(calls)

    _, _, fresh_set, n_cold = run(resume=False)
    assert n_cold == 1

    pipe, resumed, resumed_set, n_full = run(resume=True)
    assert resumed_set == fresh_set
    # every stage restored: no candidate join, no match stats
    assert n_full == 0
    assert pipe.last_match_stats == {}
    # the resumed run actually reused checkpoints (lineage says so)
    lineage = resumed["lineage"]().collect()
    resumed_stages = {r["stage"] for r in lineage if r["wall_ms"] == 0.0}
    assert "match" in resumed_stages and "dataset_prep" in resumed_stages

    # match restored, changes recomputed: its vicinity needs the pair
    # table once, and the change set is unchanged
    os.remove(os.path.join(out, "changes.manifest.json"))
    _, partial, partial_set, n_partial = run(resume=True)
    assert n_partial == 1
    assert partial_set == fresh_set
    lineage = partial["lineage"]().collect()
    rebuilt = {r["stage"] for r in lineage if r["wall_ms"] > 0.0}
    assert "changes" in rebuilt and "match" not in rebuilt
