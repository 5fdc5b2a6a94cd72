"""Pipeline metrics: stage counts + throughput, emitted as one JSON
object per run (the Spark analogue of the reference's progress/ETA
logging, neo4j_citation_relationship_builder.py:221-275, and its
stats counters, neo4j_pubmed_batch_embeddings_processor.py:478-482).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field


@dataclass
class RunMetrics:
    run_id: str
    started_at: float = field(default_factory=time.time)
    rows_in: int = 0
    # None (null in the JSON) when the run does not measure them
    mentions: int | None = None
    linked: int | None = None
    triples: int = 0
    wall_sec: float = 0.0

    def finish(self) -> "RunMetrics":
        self.wall_sec = round(time.time() - self.started_at, 3)
        return self

    @property
    def triples_per_sec(self) -> float:
        return round(self.triples / self.wall_sec, 1) if self.wall_sec else 0.0

    def to_json(self) -> str:
        d = asdict(self)
        d["triples_per_sec"] = self.triples_per_sec
        return json.dumps(d)

    def write(self, out_dir: str) -> str:
        os.makedirs(os.path.join(out_dir, "_metrics"), exist_ok=True)
        p = os.path.join(out_dir, "_metrics", f"{self.run_id}.json")
        with open(p, "w") as fh:
            fh.write(self.to_json() + "\n")
        return p
