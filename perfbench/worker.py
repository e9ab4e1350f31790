"""One workload run in its own process, so every run starts a fresh
Spark JVM the way a user's job does.  Started by ``run.py`` with the
path of a JSON config; writes its result JSON to ``cfg["result"]``.
"""

from __future__ import annotations

import json
import sys


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    if cfg["workload"] == "cdc_relay":
        import cdc

        out = cdc.run(cfg)
    elif cfg["workload"] == "traffic":
        import traffic

        out = traffic.run(cfg)
    else:
        import registry

        out = registry.run(cfg)
    with open(cfg["result"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main()
