#!/usr/bin/env python3
"""Bucket a JFR recording's executor CPU samples by layer of the pcap->UDM path.

    python3 tools/jfr_layers.py RECORDING.jfr [RECORDING2.jfr ...] [--other 15]

Record with any JVM flag set, e.g. a benchmark run:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile" \\
      python3 perfbench/run.py --workload pcap_backlog --seed 31 --seconds 10

Reads `jdk.ExecutionSample` events through the JDK's `jfr print` and keeps the
samples of Spark's executor threads ("Executor task launch worker ..."). Each
sample's stack is walked from the leaf frame towards the root:

    decode        graft.sources.PcapParser / PcapDecode (binary capture -> JSON)
    parse         graft.functions.UdmPacketParseExpr and its Jackson reader
                  (packet JSON -> rows)
    time          the timestamp cascade: java.time, Spark's timestamp
                  formatters, and the regexes (rlike, regexp_replace) it runs
    hof           interpreted higher-order functions (transform/filter/exists)
    serialize     graft.functions.StructToJsonExpr and its serializer, and the
                  JSON/text sink writers
    cache_build   the in-memory columnar cache (encoding, block store, reads)
    codegen       Janino compiles and source generation
    task_deser    task, closure and broadcast deserialization
    projection    generated code and interpreted expressions outside the above
    other         everything else (the --other N most common leaf frames print)

A layer from decode to task_deser owns everything its frames call, so the
rootmost such frame decides (java.time under the decoder is decode, Jackson
under the packet parser is parse). The sink writers and the cache are
containers that pull rows through the operators below them: they decide only
when no layer frame and no generated-code or expression frame lies between
them and the leaf; with an expression frame there the sample is projection.

One table per recording: samples and share of the executor samples. Under it,
the executor samples whose leaf frame is generated code (a `GeneratedClass`)
running in the bytecode interpreter, by method: HotSpot never JIT-compiles a
method over 8,000 bytes of bytecode (`-XX:HugeMethodLimit`), so a generated
method that large runs interpreted for the life of the JVM, and the table above
hides it under `projection`. The frame type comes from `jfr print --json`, read
at stack depth 1 (the text output does not carry it).
"""
import argparse
import collections
import json
import re
import subprocess
import sys

# (layer, frame-name regex)
WORK = [
    ("codegen", r"^org\.codehaus\.(janino|commons)\.|"
                r"\.expressions\.codegen\.(CodeGenerator|CodegenContext|Generate\w+|\w*Block)\b|"
                r"\.(doGenCode|genCode)$"),
    ("task_deser", r"^java\.io\.ObjectInputStream\.|\.JavaDeserializationStream\.|"
                   r"\.TaskDescription\$\.decode"),
    ("decode", r"^graft\.sources\.(PcapParser|PcapDecode)"),
    ("parse", r"^graft\.functions\.UdmPacket(ParseExpr|Jackson)"),
    ("time", r"^java\.time\.|^java\.util\.regex\.|"
             r"\.catalyst\.util\.(\w*TimestampFormatter|\w*DateTimeUtils|DateTimeFormatterHelper)|"
             r"\.expressions\.(DateFormatClass|GetTimestamp|ToTimestamp|RLike|RegExpReplace)\."),
    ("hof", r"\.expressions\.(ArrayTransform|ArrayFilter|ArrayExists|LambdaFunction|"
            r"NamedLambdaVariable|\w*HigherOrderFunction)\."),
    ("serialize", r"^graft\.functions\.(StructToJson|JsonStructSerializer)"),
]
CONTAINERS = [
    ("serialize", r"\.catalyst\.json\.JacksonGenerator|\.datasources\.(json|text)\.|"
                  r"\.OutputWriter\.|FileFormatDataWriter"),
    ("cache_build", r"\.execution\.columnar\.|\.storage\.memory\.MemoryStore\.|"
                    r"\.DefaultCachedBatchSerializer"),
]
EXPR = re.compile(r"\.catalyst\.expressions\.|\.execution\.(ProjectExec|BufferedRowIterator)")
ORDER = ["decode", "parse", "time", "hof", "serialize", "cache_build", "codegen",
         "task_deser", "projection", "other"]
WORK_RX = [(name, re.compile(rx)) for name, rx in WORK]
CONTAINER_RX = [(name, re.compile(rx)) for name, rx in CONTAINERS]
FRAME = re.compile(r"^\s+([\w$.<>]+)\(")


def classify(frames):
    owner, in_expr = None, False
    for f in frames:
        work = next((name for name, rx in WORK_RX if rx.search(f)), None)
        if work:
            owner = work
            continue
        container = next((name for name, rx in CONTAINER_RX if rx.search(f)), None)
        if container:
            return owner or ("projection" if in_expr else container)
        in_expr = in_expr or bool(EXPR.search(f))
    return owner or ("projection" if in_expr else "other")


def samples(path):
    """Yield (thread name, [frame names, leaf first]) per execution sample."""
    cmd = ["jfr", "print", "--events", "jdk.ExecutionSample", "--stack-depth", "128", path]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as p:
        thread, frames, in_stack = None, [], False
        for line in p.stdout:
            s = line.strip()
            if s.startswith("sampledThread = "):
                thread = s.split('"')[1]
            elif s == "stackTrace = [":
                frames, in_stack = [], True
            elif in_stack and s == "]":
                in_stack = False
                yield thread, frames
            elif in_stack:
                m = FRAME.match(line)
                if m:
                    frames.append(m.group(1))
    if p.returncode:
        sys.exit(f"jfr print failed on {path} (exit {p.returncode})")


def interpreted_generated(path):
    """Executor samples whose leaf frame is an interpreted GeneratedClass
    method, counted by class.method."""
    cmd = ["jfr", "print", "--json", "--events", "jdk.ExecutionSample", "--stack-depth", "1", path]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    if out.returncode:
        sys.exit(f"jfr print --json failed on {path} (exit {out.returncode})")
    counts = collections.Counter()
    for event in json.loads(out.stdout)["recording"]["events"]:
        values = event["values"]
        thread = (values.get("sampledThread") or {}).get("javaName") or ""
        frames = (values.get("stackTrace") or {}).get("frames") or []
        if not thread.startswith("Executor task launch worker") or not frames:
            continue
        leaf = frames[0]
        cls = leaf["method"]["type"]["name"].replace("/", ".")
        if leaf["type"] == "Interpreted" and "GeneratedClass" in cls:
            counts[f"{cls.rsplit('.', 1)[-1]}.{leaf['method']['name']}"] += 1
    return counts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recordings", nargs="+")
    ap.add_argument("--other", type=int, default=10,
                    help="print the N most common leaf frames of unbucketed samples")
    a = ap.parse_args()
    for path in a.recordings:
        counts, leaves, total = collections.Counter(), collections.Counter(), 0
        for thread, frames in samples(path):
            if not thread or not thread.startswith("Executor task launch worker"):
                continue
            total += 1
            layer = classify(frames)
            counts[layer] += 1
            if layer == "other" and frames:
                leaves[frames[0]] += 1
        print(f"{path}: {total} executor samples")
        for name in ORDER:
            share = counts[name] / total if total else 0.0
            print(f"  {name:<12} {counts[name]:>7}  {share:6.1%}")
        for frame, n in leaves.most_common(a.other):
            print(f"    other leaf {n:>6}  {frame}")
        interpreted = interpreted_generated(path)
        n = sum(interpreted.values())
        print(f"  interpreted generated-code leaves {n:>7}  {n / total if total else 0.0:6.1%}")
        for method, k in interpreted.most_common(a.other):
            print(f"    {k:>6}  {method}")


if __name__ == "__main__":
    main()
