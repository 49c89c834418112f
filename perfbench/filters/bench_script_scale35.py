"""The reference's scale35 filter (value * scale + offset on every numeric
datapoint), loaded through the engine's script-name convention: the
method name is what follows ``_script_`` in the file name."""

import json

_cfg = {"scale": 5.0, "offset": 10.0}


def set_filter_config(configuration):
    _cfg.update(json.loads(configuration["config"]))
    return True


def scale35(readings):
    scale, offset = float(_cfg["scale"]), float(_cfg["offset"])
    for r in readings:
        r["reading"] = {
            k: v * scale + offset if isinstance(v, (int, float)) else v
            for k, v in r["reading"].items()
        }
    return readings
