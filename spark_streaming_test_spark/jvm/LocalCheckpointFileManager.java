package sparkgraft;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.FSDataOutputStream;
import org.apache.hadoop.fs.FileSystem;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager;

/** The FileSystem-based streaming checkpoint manager, with the file modes
 * of local checkpoints set in this JVM. Without libhadoop,
 * RawLocalFileSystem.setPermission forks a `chmod` for every file it
 * creates (a checkpoint file and its .crc: two per atomic write); Raw
 * sets an rwx-only mode with one chmod(2) instead. Temp files and
 * directories are created through a LocalFileSystem over Raw, which
 * writes the same .crc sidecars; renames, reads, listing and deletes,
 * and every other scheme, keep the parent's code and its file system.
 * On file: that is a LocalFileSystem subclass when hive-exec is on the
 * class path: its service entry registers Hive's ProxyLocalFileSystem,
 * which overrides rename only. */
public final class LocalCheckpointFileManager extends FileSystemBasedCheckpointFileManager {
  private final FileSystem local;  // null unless fs() is a LocalFileSystem

  public LocalCheckpointFileManager(Path path, Configuration hadoopConf) throws IOException {
    super(path, hadoopConf);
    FileSystem fs = fs();
    if (fs instanceof LocalFileSystem) {
      LocalFileSystem lfs = new LocalFileSystem(new Raw());
      lfs.setConf(fs.getConf());
      lfs.initialize(fs.getUri(), fs.getConf());
      local = lfs;
    } else {
      local = null;
    }
  }

  @Override
  public FSDataOutputStream createTempFile(Path path) {
    if (local == null) return super.createTempFile(path);
    try {
      return local.create(path, true);
    } catch (IOException e) {
      throw rethrow(e);
    }
  }

  @Override
  public void mkdirs(Path path) {
    if (local == null) {
      super.mkdirs(path);
      return;
    }
    try {
      local.mkdirs(path, FsPermission.getDirDefault());
    } catch (IOException e) {
      throw rethrow(e);
    }
  }

  /** RawLocalFileSystem whose setPermission sets a mode of rwx bits only
   * with Files.setPosixFilePermissions; a mode with setuid, setgid or
   * sticky bits goes to Hadoop's own code. */
  public static final class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission lists OWNER_READ (0400) first, OTHERS_EXECUTE (0001) last.
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission bit : PosixFilePermission.values()) {
        if ((mode & (0400 >> bit.ordinal())) != 0) perms.add(bit);
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }

  /** Throws e unchanged: the parent's Scala methods declare no checked
   * exceptions, and callers catch the IOException subclasses themselves. */
  @SuppressWarnings("unchecked")
  private static <E extends Throwable> RuntimeException rethrow(Throwable e) throws E {
    throw (E) e;
  }
}
