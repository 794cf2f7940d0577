"""Set-up cost of the NER kernel in a fresh process: import the kernel,
build the classifier and gazetteers, and run one small warm-up batch.
Prints the elapsed seconds. ``ner_kernel`` runs this several times in
child processes, because inside its own process the kernel is already
loaded by the time anything is timed.

    python3 -m perfbench.kernel_setup
"""

import time

T0 = time.perf_counter()


def main() -> None:
    from transner_spark.kernels.ner_pipeline import ner_batch
    from transner_spark.kernels.triples import extract_triples_turn
    from transner_spark.sources.transcripts import gen_turn

    turns = [gen_turn(c, t) for c in range(32) for t in range(8)]
    for turn, res in zip(turns, ner_batch([t["text"] for t in turns])):
        extract_triples_turn(turn["text"], res["entities"], turn["role"], turn["tool"])
    print(time.perf_counter() - T0)


if __name__ == "__main__":
    main()
