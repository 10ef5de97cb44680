"""Pipeline plans: composition of source → transform → merge → table.

The reference's pipeline lifecycle (INITIALIZED→READY→SCANNING→AGGREGATING→
EXPORTING→COMPLETED, /root/reference/python/src/opengin/tracer/agents/
orchestrator.py:78-86,376-410) becomes declarative DataFrame plans here:
Catalyst owns physical planning; the engine owns only the commit protocol.
"""

from opengin_ingestion_spark.plans.replay import (  # noqa: F401
    PAGES_SCHEMA,
    replay_changelog,
)
