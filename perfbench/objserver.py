"""A plain-HTTP object server for the runner workload.

Serves the files of one directory on 127.0.0.1 with the two requests an
object store answers: HEAD (size) and ranged GET. Every request is
recorded in memory with its method, object, bytes sent and start/end
times, so the benchmark counts read operations and wire bytes on the
server side, independently of what the client reports.
"""
import http.server
import os
import re
import threading
import time

RANGE_RE = re.compile(r"bytes=(\d+)-(\d*)")


class ObjectServer:
    def __init__(self, root):
        self.root = root
        self.log = []           # (method, name, bytes, start_s, end_s, status)
        self.lock = threading.Lock()
        server = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def _object(self):
                name = os.path.basename(self.path.split("?")[0])
                path = os.path.join(server.root, name)
                return name, (path if os.path.isfile(path) else None)

            def _record(self, method, name, sent, t0, status):
                with server.lock:
                    server.log.append((method, name, sent, t0,
                                       time.time(), status))

            def do_HEAD(self):
                t0 = time.time()
                name, path = self._object()
                if path is None:
                    self.send_response(404)
                    self.end_headers()
                    self._record("HEAD", name, 0, t0, 404)
                    return
                self.send_response(200)
                self.send_header("Content-Length", str(os.path.getsize(path)))
                self.end_headers()
                self._record("HEAD", name, 0, t0, 200)

            def do_GET(self):
                t0 = time.time()
                name, path = self._object()
                if path is None:
                    self.send_response(404)
                    self.end_headers()
                    self._record("GET", name, 0, t0, 404)
                    return
                size = os.path.getsize(path)
                lo, hi, status = 0, size - 1, 200
                m = RANGE_RE.fullmatch(self.headers.get("Range", ""))
                if m:
                    lo = int(m.group(1))
                    hi = min(int(m.group(2)), size - 1) if m.group(2) else size - 1
                    status = 206
                self.send_response(status)
                self.send_header("Content-Length", str(hi - lo + 1))
                if status == 206:
                    self.send_header("Content-Range", f"bytes {lo}-{hi}/{size}")
                self.end_headers()
                sent = 0
                try:
                    with open(path, "rb") as f:
                        f.seek(lo)
                        left = hi - lo + 1
                        while left > 0:
                            buf = f.read(min(left, 1 << 16))
                            self.wfile.write(buf)
                            sent += len(buf)
                            left -= len(buf)
                        self.wfile.flush()
                except (BrokenPipeError, ConnectionResetError):
                    pass
                self._record("GET", name, sent, t0, status)

        self.httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.httpd.daemon_threads = True
        self.port = self.httpd.server_address[1]
        self.thread = threading.Thread(target=self.httpd.serve_forever,
                                       daemon=True)

    def __enter__(self):
        self.thread.start()
        return self

    def __exit__(self, *exc):
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join()

    def url(self, name):
        return f"ghttp://127.0.0.1:{self.port}/{name}"

    def mark(self):
        with self.lock:
            return len(self.log)

    def since(self, mark):
        with self.lock:
            return list(self.log[mark:])
