"""Time one session start in a process of its own, so in a JVM of its own.

    python3 perfbench/start_probe.py

``run.py`` starts it between the segments of its window, with the run's
environment. It prints the seconds ``get_spark`` took as its last line,
after its JVM has exited.
"""

import time

from pyspark import SparkContext

from run import MASTER
from valico_spark.session import get_spark


def main() -> None:
    t = time.perf_counter()
    get_spark("perfbench", master=MASTER)
    seconds = time.perf_counter() - t
    # nothing ran in this session, so end the JVM without a clean stop
    jvm = SparkContext._gateway.proc
    jvm.kill()
    jvm.wait()
    print(seconds)


if __name__ == "__main__":
    main()
