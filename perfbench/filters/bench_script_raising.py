"""A filter that raises on every batch.  The engine then passes each batch
through unfiltered, which the benchmark's output checks must count as
failed."""


def raising(readings):
    raise RuntimeError("filter failure injected by the benchmark")
