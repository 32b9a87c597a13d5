import java.io.IOException;
import java.net.URI;
import java.util.concurrent.ConcurrentLinkedQueue;
import org.apache.hadoop.fs.FSDataInputStream;
import org.apache.hadoop.fs.FSDataOutputStream;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.util.Progressable;

/**
 * Test-only Hadoop FileSystem registered under the scheme "mock":
 * byte-for-byte RawLocalFileSystem semantics, but paths carry a
 * non-"file" scheme -- so any engine code that falls back to os.*
 * filesystem calls on a state root breaks loudly instead of silently
 * passing because the test root happened to be local. Wired into
 * tests via spark.hadoop.fs.mock.impl=MockFileSystem.
 *
 * r14 (VERDICT r13 next #5): also an OP COUNTER. Between
 * startRecording() and stopRecording() every externally visible
 * metadata operation is logged as "op path" lines (list/open/create/
 * rename/delete/stat), so tests can ASSERT the object-store cost
 * claims -- "one manifest GET, zero data-prefix LISTs", "zero renames
 * on a versioned delete", "LISTs per micro-batch &le; #epochs+1" --
 * instead of arguing them in prose. Static state is process-wide
 * (local-mode executors share the JVM); tests run verbs sequentially
 * inside a recording window.
 */
public class MockFileSystem extends RawLocalFileSystem {
  private static final ConcurrentLinkedQueue<String> OPS = new ConcurrentLinkedQueue<>();
  private static volatile boolean recording = false;

  public static void startRecording() {
    OPS.clear();
    recording = true;
  }

  /** Stop and return the log, one "op path" per line. */
  public static String stopRecording() {
    recording = false;
    StringBuilder sb = new StringBuilder();
    for (String s : OPS) {
      sb.append(s).append('\n');
    }
    OPS.clear();
    return sb.toString();
  }

  private static void log(String op, Path p) {
    if (recording) {
      OPS.add(op + " " + p.toUri().getPath());
    }
  }

  @Override
  public URI getUri() {
    return URI.create("mock:///");
  }

  @Override
  public String getScheme() {
    return "mock";
  }

  @Override
  public FSDataInputStream open(Path f, int bufferSize) throws IOException {
    log("open", f);
    return super.open(f, bufferSize);
  }

  @Override
  public FileStatus[] listStatus(Path f) throws IOException {
    log("list", f);
    return super.listStatus(f);
  }

  @Override
  public boolean rename(Path src, Path dst) throws IOException {
    log("rename", src);
    return super.rename(src, dst);
  }

  @Override
  public boolean delete(Path f, boolean recursive) throws IOException {
    log("delete", f);
    return super.delete(f, recursive);
  }

  @Override
  public FSDataOutputStream create(
      Path f,
      FsPermission permission,
      boolean overwrite,
      int bufferSize,
      short replication,
      long blockSize,
      Progressable progress)
      throws IOException {
    log("create", f);
    return super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress);
  }

  /** The overload FileSystem.create(Path, boolean) lands on (no permission argument). */
  @Override
  public FSDataOutputStream create(
      Path f,
      boolean overwrite,
      int bufferSize,
      short replication,
      long blockSize,
      Progressable progress)
      throws IOException {
    log("create", f);
    return super.create(f, overwrite, bufferSize, replication, blockSize, progress);
  }

  @Override
  public FileStatus getFileStatus(Path f) throws IOException {
    log("stat", f);
    return super.getFileStatus(f);
  }
}
