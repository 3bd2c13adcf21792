"""The engine's benchmark: seeded workloads, a runner and its tracing."""
