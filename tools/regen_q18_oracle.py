"""Recompute the q18 VALUES-oracle literals from the INDEPENDENT reference
simulator (tests/ref_simulator.py) — run after any change to the synthetic
pages generator, board config, or reference-semantics simulator, and paste
the printed rows into __spark_entry__.oracle_sql()['q18_crawl_flagship'].

The counts are ground truth by construction: the simulator is a straight-line
serial replay of the reference scripts' crawl loops and never touches the
engine's Spark code.
"""

import os
import sys
from collections import Counter
from urllib.parse import urlparse

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from politics_crawler_spark.config import ENABLED_BOARDS, RUN_DATE
from politics_crawler_spark.sources.synthetic_pages import synthesize_pages_pandas
from tests.ref_simulator import simulate

pdf = synthesize_pages_pandas(1500)
_, seen = simulate(dict(zip(pdf["url"], pdf["html"])), ENABLED_BOARDS, RUN_DATE)
host_to_site = {b.host: b.site for b in ENABLED_BOARDS}
counts = Counter(host_to_site[urlparse(u).netloc] for u in seen)
for site, n in sorted(counts.items()):
    print(f"('{site}', CAST({n} AS BIGINT), true, true, true),")
print(f"-- total: {sum(counts.values())}")
