"""Record the input fingerprints the benchmark checks every run against.

    python3 perfbench/fingerprints.py [n_seeds]

Writes ``perfbench/fingerprints.json``: per workload the input size, the
generator probe and, for seeds 0 .. n_seeds-1 (default 100), the input's
fingerprint.  The clip corpus is regenerated with the in-memory generator
(``generate_clips_pandas``), which is documented to produce the same rows as
the Spark generator a run uses, so a run also checks that promise.  Re-run
this only when a change to the inputs is intended.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:] = [p for p in sys.path if Path(p or ".").resolve() != HERE]
sys.path.insert(0, str(HERE.parent))


def main(n_seeds: int) -> None:
    import pyarrow as pa

    from datasketches_pig_spark.data.clips import generate_clips_pandas

    from perfbench import tables
    from perfbench.clips import TARGET_CLIPS, ClipsMixed, content_fingerprint, groups_for
    from perfbench.headline import HeadlineQueries

    clips, heads = {}, {}
    for seed in range(n_seeds):
        frame, truth_pairs, _ = generate_clips_pandas(groups_for(seed, TARGET_CLIPS), seed=seed)
        fp = content_fingerprint(pa.Table.from_pandas(frame, preserve_index=False))
        fp["truth_pairs"] = len(truth_pairs)
        clips[str(seed)] = fp
        heads[str(seed)] = tables.fingerprint(tables.build(seed))
        print(f"seed {seed}: {fp['clips']} clips", flush=True)
    out = {
        ClipsMixed.name: {
            "size": f"clips>={TARGET_CLIPS}", "probe": ClipsMixed.probe(), "seeds": clips,
        },
        HeadlineQueries.name: {
            "size": HeadlineQueries.size, "probe": HeadlineQueries.probe(), "seeds": heads,
        },
    }
    (HERE / "fingerprints.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 100)
