"""Orchestration layer — the reference's controller → processor → worker
pipeline (tile_processor/controller.py, processor.py, worker.py)
re-expressed on Spark:

- ``tiles``: TileSet selection API (``configure(tiles)`` by ID list or
  all, extent; optional reorder) — tileconfig.py:70-260.
- ``controller``: controller presets; ``example_controller`` is the one
  "restrict to the listed tiles, then run with retry" path behind
  ``Engine.run``, ``cli run`` and ``cli export-tile-inputs``, and
  ``cli run-controller`` binds each configuration frame to the
  controller parameter of the same name.
- ``workers``: per-tile worker registry; workers are ``applyInPandas``
  functions over tile groups returning a status row — the Spark analogue
  of ``WorkerFactory`` (worker.py:30-54).
- ``processor``: fan-out over tiles with failure collection and bounded
  retry, preserving the ``{'failed_tiles': [...], 'nr_success': n}``
  result contract (processor.py:89-149).
- ``monitor``: one ``/proc`` sampler writing the per-process resource
  TSV, for subprocess workers and the driver JVM (worker.py:718-736).
- ``recorder``: monitor-log analytics matching recorder.py:75-133.

The thread pool of the reference becomes Spark's task scheduler: tiles
are partition keys, one worker invocation per tile group.
"""
