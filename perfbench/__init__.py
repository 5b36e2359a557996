"""The lakehouse benchmark: three closed-loop workloads over the engine's
public API, end-to-end metrics from untraced runs and per-layer metrics
from a traced run. Entry point: ``python3 perfbench/run.py``."""
