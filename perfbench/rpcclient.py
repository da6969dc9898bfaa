"""A JSON-RPC client over the stdio transport of a `graft.api.RpcServer` child.

Several client threads share one connection: requests are written one
line each under a lock and matched to responses by id, as the reference
client does. Every call is recorded with its send and receive times
(monotonic seconds and epoch milliseconds), which is all the timing the
RPC workloads use.
"""
import json
import os
import signal
import subprocess
import threading
import time


class Call:
    """One request: when it was sent and answered, and how it ended."""

    __slots__ = ("id", "method", "sent", "recv", "sent_ms", "recv_ms", "ok", "error", "result", "done")

    def __init__(self, rid, method):
        self.id, self.method = rid, method
        self.sent = self.recv = self.sent_ms = self.recv_ms = None
        self.ok, self.error, self.result = False, None, None
        self.done = threading.Event()

    @property
    def seconds(self):
        return self.recv - self.sent


class Child:
    """An engine JVM the benchmark started, in its own process group.

    `launched` is taken just before the process starts; stderr goes to
    `log_path`.
    """

    def __init__(self, cmd, cwd, env, log_path):
        self._log = open(log_path, "ab")
        self.launched = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=self._log, start_new_session=True)

    def rss_peak_mb(self):
        """VmHWM of the child, MB (0 when it is gone)."""
        try:
            with open(f"/proc/{self.proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024.0
        except OSError:
            pass
        return 0.0

    def stop(self, grace=15.0):
        """Close stdin (the child's exit signal), then TERM, then KILL; wait for the end."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(grace)
        except subprocess.TimeoutExpired:
            self._signal(signal.SIGTERM)
            try:
                self.proc.wait(grace)
            except subprocess.TimeoutExpired:
                self._signal(signal.SIGKILL)
                self.proc.wait()
        self._log.close()

    def kill(self):
        if self.proc.poll() is None:
            self._signal(signal.SIGKILL)
            self.proc.wait()
        self._log.close()

    def _signal(self, sig):
        try:
            os.killpg(self.proc.pid, sig)
        except (ProcessLookupError, PermissionError):
            pass


class Server(Child):
    """A `graft.api.RpcServer --transport stdio` child and its client side."""

    def __init__(self, cmd, cwd, env, log_path):
        super().__init__(cmd, cwd, env, log_path)
        self._lock = threading.Lock()
        self._pending = {}
        self._next = 0
        self.calls = []
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self):
        for line in self.proc.stdout:
            recv, recv_ms = time.perf_counter(), time.time() * 1000.0
            try:
                msg = json.loads(line)
            except ValueError:
                continue
            call = self._pending.pop(msg.get("id"), None)
            if call is None:
                continue
            call.recv, call.recv_ms = recv, recv_ms
            if "error" in msg:
                call.error = msg["error"].get("message", "error")
            else:
                call.ok, call.result = True, msg.get("result")
            call.done.set()
        for call in list(self._pending.values()):  # the child went away
            call.recv, call.recv_ms = time.perf_counter(), time.time() * 1000.0
            call.error = "server exited"
            call.done.set()

    def call(self, method, params=None, timeout=150):
        """Send one request and wait for its response; returns the Call."""
        with self._lock:
            rid = self._next
            self._next += 1
            call = Call(rid, method)
            self._pending[rid] = call
            line = json.dumps({"jsonrpc": "2.0", "id": rid, "method": method, "params": params or {}}) + "\n"
            call.sent, call.sent_ms = time.perf_counter(), time.time() * 1000.0
            self.calls.append(call)
            try:
                self.proc.stdin.write(line.encode())
                self.proc.stdin.flush()
            except (BrokenPipeError, ValueError):
                self._pending.pop(rid, None)
                call.recv, call.recv_ms, call.error = time.perf_counter(), time.time() * 1000.0, "server closed"
                call.done.set()
        if not call.done.wait(timeout):
            call.error = "timeout"
            call.recv, call.recv_ms = time.perf_counter(), time.time() * 1000.0
        return call

    def stop(self, grace=15.0):
        super().stop(grace)
        self._reader.join(5)
