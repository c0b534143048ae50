"""One set-up sample in a fresh process: import the library and registry,
start the session, stop it.  Prints ``{"import_s": .., "start_s": ..}``."""

import time

T0 = time.time()

import json  # noqa: E402

import benchenv  # noqa: E402

if __name__ == "__main__":
    spark, import_s, start_s = benchenv.start(T0, "perfbench-setup")
    benchenv.stop(spark)
    print(json.dumps({"import_s": import_s, "start_s": start_s}))
