"""Tracing from outside the program: spans around the benchmark's calls
into ``erde_spark`` and ``__spark_entry__.queries()``, plus Spark's own
counters read around the same calls.

* spans: name, start, end, parent, pass id — kept in memory, written out
  when the run ends. A span's self time is its duration minus the time
  its child spans cover, so the self times of one pass add up to the
  pass's wall time;
* job and stage counters from the application status store
  (``sc._jsc.sc().statusStore()``);
* per-node SQL metrics from the SQL status store
  (``spark._jsparkSession.sharedState().statusStore()``, which works with
  the UI off);
* per-trigger streaming progress from a ``StreamingQueryListener``.

Counters are read after a pass ends, outside its timed window, once the
listener bus has drained. Nothing here adds work to the traced plans.
"""

from __future__ import annotations

import functools
import os
import re
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

_TIME_MS = {'ms': 1.0, 's': 1e3, 'm': 60e3, 'h': 3600e3}
_SIZE_B = {'B': 1, 'KiB': 1 << 10, 'MiB': 1 << 20, 'GiB': 1 << 30, 'TiB': 1 << 40}


def parse_metric(text: str | None) -> float:
    """Total of one formatted SQL metric: ``'1,234'``, ``'402 ms'``,
    ``'3.3 s'``, ``'67.2 MiB'`` or the multi-task form
    ``'total (min, med, max ...)\\n1.2 s (...)'``. Times come back in ms,
    sizes in bytes, counts as counts."""
    if not text:
        return 0.0
    head = text.split('\n')[-1].split(' (')[0].split()
    num = float(head[0].replace(',', ''))
    unit = head[1] if len(head) > 1 else ''
    return num * _TIME_MS.get(unit, _SIZE_B.get(unit, 1))


class Span:
    __slots__ = ('name', 'start', 'end', 'parent', 'pass_id')

    def __init__(self, name, start, parent, pass_id):
        self.name, self.start, self.parent = name, start, parent
        self.pass_id, self.end = pass_id, None

    def as_dict(self, idx):
        return {'id': idx, 'name': self.name, 'parent': self.parent,
                'pass': self.pass_id, 'start': self.start, 'end': self.end}


class Tracer:
    """Span recorder. ``enabled=False`` makes :meth:`span` and
    :meth:`wrap` free, which is how untraced passes run."""

    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self.pass_id = -1

    def span(self, name: str):
        return _SpanCtx(self, name) if self.enabled else _NULL_CTX

    def wrap(self, name: str, fn):
        """``fn`` wrapped so each call records a span named ``name``."""
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def _open(self, name):
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self.spans.append(Span(name, time.perf_counter(), parent, self.pass_id))
            self._stack.append(len(self.spans) - 1)

    def _close(self):
        with self._lock:
            self.spans[self._stack.pop()].end = time.perf_counter()

    def pass_spans(self, pass_id: int) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.pass_id == pass_id]

    def self_times(self, pass_id: int) -> dict[int, float]:
        """Span index -> self time (duration minus child durations)."""
        spans = self.pass_spans(pass_id)
        out = {i: s.end - s.start for i, s in spans}
        for i, s in spans:
            if s.parent is not None and s.parent in out:
                out[s.parent] -= s.end - s.start
        return out

    def dump(self) -> list[dict]:
        return [s.as_dict(i) for i, s in enumerate(self.spans)]


class _SpanCtx:
    __slots__ = ('t', 'name')

    def __init__(self, tracer, name):
        self.t, self.name = tracer, name

    def __enter__(self):
        self.t._open(self.name)

    def __exit__(self, *exc):
        self.t._close()
        return False


class _NullCtx:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL_CTX = _NullCtx()


class ProgressListener(StreamingQueryListener):
    """Collects per-trigger progress of every streaming query."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append({'batch': p.batchId,
                                  'rows': p.numInputRows,
                                  'durations': dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out


class SparkCounters:
    """Reads job, stage and SQL-node counters for everything a pass ran."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.app = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _executions_since(self, exec_mark: int) -> list:
        # executionsList() is ordered by execution id, ascending
        ex, out = self.sql.executionsList(), []
        for k in range(ex.size() - 1, -1, -1):
            e = ex.apply(k)
            if e.executionId() <= exec_mark:
                break
            out.append(e)
        return out[::-1]

    def drain(self, exec_mark: int = -1):
        """Wait for the listener bus, then for every SQL execution after
        ``exec_mark`` to record its end (the end event can trail the bus
        by a moment)."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        deadline = time.time() + 10
        while time.time() < deadline:
            if all(e.completionTime().isDefined()
                   for e in self._executions_since(exec_mark)):
                return
            time.sleep(0.05)

    def marks(self) -> tuple[int, int]:
        """(highest job id, highest SQL execution id) seen so far."""
        jl = self.app.jobsList(None)      # ordered by job id, descending
        ex = self.sql.executionsList()
        return (jl.apply(0).jobId() if jl.size() else -1,
                ex.apply(ex.size() - 1).executionId() if ex.size() else -1)

    def jobs_since(self, job_mark: int) -> list:
        jl, out = self.app.jobsList(None), []
        for k in range(jl.size()):
            j = jl.apply(k)
            if j.jobId() <= job_mark:
                break
            out.append(j)
        return out

    def stage_totals(self, jobs: list) -> dict:
        ids = set()
        for j in jobs:
            seq = j.stageIds()
            ids.update(seq.apply(k) for k in range(seq.size()))
        arr = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        sl = self.app.stageList(None, False, False, arr, None)
        tot = dict.fromkeys(('stages', 'run_ms', 'cpu_ns', 'gc_ms', 'input_b',
                             'output_b', 'sh_read_b', 'sh_write_b',
                             'fetch_wait_ms', 'spill_b'), 0)
        for k in range(sl.size()):
            s = sl.apply(k)
            if s.stageId() not in ids or s.status().toString() == 'SKIPPED':
                continue
            tot['stages'] += 1
            tot['run_ms'] += s.executorRunTime()
            tot['cpu_ns'] += s.executorCpuTime()
            tot['gc_ms'] += s.jvmGcTime()
            tot['input_b'] += s.inputBytes()
            tot['output_b'] += s.outputBytes()
            tot['sh_read_b'] += s.shuffleReadBytes()
            tot['sh_write_b'] += s.shuffleWriteBytes()
            tot['fetch_wait_ms'] += s.shuffleFetchWaitTime()
            tot['spill_b'] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return tot

    def sql_nodes(self, exec_mark: int) -> list[dict]:
        """Every plan node of every SQL execution after ``exec_mark``:
        ``{'exec', 'start_ms', 'name', 'desc', 'metrics': {name: total}}``."""
        out = []
        for e in self._executions_since(exec_mark):
            eid = e.executionId()
            values = self.sql.executionMetrics(eid)
            nodes = self.sql.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                nd = nodes.apply(i)
                ms = nd.metrics()
                metrics = {}
                for j in range(ms.size()):
                    m = ms.apply(j)
                    if m.metricType() == 'average':
                        continue
                    v = values.get(m.accumulatorId())
                    metrics[m.name()] = metrics.get(m.name(), 0.0) + \
                        parse_metric(v.get() if v.isDefined() else None)
                out.append({'exec': eid, 'start_ms': e.submissionTime(),
                            'name': nd.name(), 'desc': nd.desc(),
                            'metrics': metrics})
        return out


def job_union_s(jobs: list) -> float:
    """Length of the union of the jobs' [submission, completion] intervals."""
    iv = sorted((j.submissionTime().get().getTime(),
                 j.completionTime().get().getTime())
                for j in jobs if j.submissionTime().isDefined()
                and j.completionTime().isDefined())
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def jobs_per_step(jobs: list, step_windows: dict) -> dict:
    """Step name -> number of jobs submitted inside its [start, end]
    epoch-ms window."""
    out = dict.fromkeys(step_windows, 0)
    for j in jobs:
        if j.submissionTime().isDefined():
            t = j.submissionTime().get().getTime()
            for step, (lo, hi) in step_windows.items():
                if lo <= t <= hi:
                    out[step] += 1
                    break
    return out


_PY_OUT = re.compile(r'\], \[([^\]]*)\]')


def udf_layers(nodes: list[dict], step_windows: dict) -> dict:
    """Python/Arrow-boundary totals, per-operator kernel busy time and the
    refine pass ratio from the SQL nodes of one pass.

    ``step_windows`` maps a step name to its [start, end] epoch ms, so the
    refine kernel of the sagg step and the sjoin step, and the traffic of
    the relational queries (``udf.rel_bytes_sent``), are told apart by
    when their execution was submitted."""
    def in_step(node, step):
        w = step_windows.get(step)
        return w is not None and w[0] <= node['start_ms'] <= w[1]

    out = dict.fromkeys(('udf.run_ms', 'udf.start_ms', 'udf.init_ms',
                         'udf.bytes_sent', 'udf.bytes_received',
                         'udf.rel_bytes_sent', 'operators.buffer_s',
                         'operators.sagg_s', 'operators.sjoin_s'), 0.0)
    refine_in = refine_out = 0.0
    by_exec_filters: dict = {}
    for n in nodes:
        if n['name'] == 'Filter':
            by_exec_filters.setdefault(n['exec'], []).append(n)
    for n in nodes:
        m = n['metrics']
        if 'Python' not in n['name']:
            if n['name'].endswith('HashAggregate'):
                agg_s = m.get('time in aggregation build', 0.0) / 1e3
                for step, key in (('geo.demand', 'operators.sagg_s'),
                                  ('geo.inside', 'operators.sjoin_s')):
                    if in_step(n, step):
                        out[key] += agg_s
            continue
        run = m.get('time to run Python workers', 0.0)
        out['udf.run_ms'] += run
        out['udf.start_ms'] += m.get('time to start Python workers', 0.0)
        out['udf.init_ms'] += m.get('time to initialize Python workers', 0.0)
        out['udf.bytes_sent'] += m.get('data sent to Python workers', 0.0)
        if any(in_step(n, st) for st in step_windows if st.startswith('rel.')):
            out['udf.rel_bytes_sent'] += m.get('data sent to Python workers', 0.0)
        out['udf.bytes_received'] += m.get('data returned from Python workers', 0.0)
        desc = n['desc']
        if '_buf(' in desc:
            out['operators.buffer_s'] += run / 1e3
        elif '_pr(' in desc or 'st_bounds(' in desc:
            for step, key in (('geo.demand', 'operators.sagg_s'),
                              ('geo.inside', 'operators.sjoin_s')):
                if in_step(n, step):
                    out[key] += run / 1e3
        if '_pr(' in desc:
            refine_in += m.get('number of output rows', 0.0)
            outs = _PY_OUT.search(desc)
            attrs = outs.group(1).split(', ') if outs else []
            for f in by_exec_filters.get(n['exec'], []):
                if any(a and a in f['desc'] for a in attrs):
                    refine_out += f['metrics'].get('number of output rows', 0.0)
    out['operators.refine_pass_ratio'] = refine_out / refine_in if refine_in else 0.0
    return out


def jvm_io_layers(nodes: list[dict]) -> dict:
    """Codegen, aggregation, scan and write-commit totals of one pass."""
    out = dict.fromkeys(('jvm.codegen_ms', 'jvm.agg_ms', 'io.read_s',
                         'io.write_s', 'io.files_written'), 0.0)
    for n in nodes:
        m = n['metrics']
        out['jvm.codegen_ms'] += m.get('duration', 0.0) \
            if n['name'].startswith('WholeStageCodegen') else 0.0
        out['jvm.agg_ms'] += m.get('time in aggregation build', 0.0)
        out['io.read_s'] += (m.get('scan time', 0.0) + m.get('metadata time', 0.0)) / 1e3
        out['io.write_s'] += (m.get('task commit time', 0.0)
                              + m.get('job commit time', 0.0)) / 1e3
        out['io.files_written'] += m.get('number of written files', 0.0)
    return out


def streaming_layers(progress: list[dict]) -> dict:
    return {
        'streaming.batches': float(len(progress)),
        'streaming.trigger_ms': float(sum(p['durations'].get('triggerExecution', 0)
                                          for p in progress)),
        'streaming.add_batch_ms': float(sum(p['durations'].get('addBatch', 0)
                                            for p in progress)),
        'streaming.input_rows': float(sum(p['rows'] for p in progress)),
    }


# ---------------------------------------------------------------- time

def _cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over every CPU, from /proc/stat."""
    with open('/proc/stat') as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = \
            (int(x) for x in fh.readline().split()[1:9])
    return user + nice + system + irq + softirq, steal


class Stopwatch:
    """Wall time of an interval, and the share of the CPU time the machine
    asked for in it that the hypervisor gave to other guests instead (the
    steal column of /proc/stat; 0 on an unshared host). ``unstolen`` is
    the wall time with that share taken out: what a CPU-bound interval
    takes when nothing else runs on the host. ``cpu_s`` is the CPU time
    the machine spent busy in the interval, summed over its CPUs."""

    def __init__(self):
        self.t0, self.k0 = time.perf_counter(), _cpu_ticks()

    def stop(self) -> 'Stopwatch':
        self.wall = time.perf_counter() - self.t0
        busy, steal = (b - a for a, b in zip(self.k0, _cpu_ticks()))
        self.steal = steal / (busy + steal) if busy + steal else 0.0
        self.unstolen = self.wall * (1 - self.steal)
        self.cpu_s = busy / os.sysconf('SC_CLK_TCK')
        return self


# ---------------------------------------------------------------- memory

def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f'/proc/{pid}/status') as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir('/proc'):
        if not d.isdigit():
            continue
        try:
            with open(f'/proc/{d}/stat') as fh:
                stat = fh.read()
        except OSError:
            continue
        # the ppid is the 2nd field after the parenthesised command name
        if int(stat.rsplit(')', 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus every process
    descended from it (the Python worker daemon and its workers)."""
    total, todo = 0, [jvm_pid]
    while todo:
        pid = todo.pop()
        total += _status_kb(pid, 'VmHWM:')
        todo.extend(_children(pid))
    return total / 1024.0
